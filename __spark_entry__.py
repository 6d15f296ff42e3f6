"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` / ``oracle_sql()`` — per-operator Spark/DuckDB pairs, keyed by
SURVEY.md §2 operator ids. The driver hash-compares both sides at sf0.01.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from panoptes_spark.dsl.resource_filter import ResourceFilter
from panoptes_spark.model import resource_serialization_key
from panoptes_spark.operators.rate import rate_oracle_sql, rate_transform
from panoptes_spark.sources import tpch_fixtures as fx

SF_SMOKE = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# DSL query corpus (FIXTURES.md §7 shapes, targeting the derived resources)
# ---------------------------------------------------------------------------

_DSL_QUERIES = {
    "p1_dsl_field_filter": 'resource_class = "network" AND resource_subclass = "machinery"',
    "p1_dsl_metadata_like": 'resource_metadata.make NOT LIKE "Arista%" AND resource_metadata.os_version LIKE "2%"',
    "p1_dsl_in_or": 'resource_site NOT IN ("AFRICA", "EUROPE") OR resource_metadata.model IN ("model-3", "model-5")',
    "p1_dsl_mixed": 'resource_type ne "generic" AND resource_metadata.os_version LIKE "4%" OR resource_class = "system"',
}


def _dsl_query(dsl: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        rf = ResourceFilter(dsl)
        res = fx.resources(spark, sf_dir)
        return fx.flat_view(res.where(F.expr(rf.to_spark_sql())))

    return run


def _dsl_oracle(dsl: str) -> str:
    rf = ResourceFilter(dsl)
    return (
        f"WITH {fx.RESOURCES_CTE} "
        f"SELECT * FROM resources_flat WHERE {rf.to_flat_sql()}"
    )


# ---------------------------------------------------------------------------
# S6 + P10: prefix-pushdown store scan with serialization key
# ---------------------------------------------------------------------------

def _store_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = fx.resources(spark, sf_dir).where(
        (F.col("resource_plugin") == "discovery_tpch")
        & (F.col("resource_site") == "AMERICA")
    )
    return resource_serialization_key(res).select("resource_id", "resource_key")


_STORE_SCAN_ORACLE = f"""
WITH {fx.RESOURCES_CTE}
SELECT resource_id,
  'plugin|' || resource_plugin || '|site|' || resource_site ||
  '|class|' || resource_class || '|subclass|' || resource_subclass ||
  '|type|' || resource_type || '|id|' || resource_id ||
  '|endpoint|' || resource_endpoint AS resource_key
FROM resources_flat
WHERE resource_plugin = 'discovery_tpch' AND resource_site = 'AMERICA'
"""


# ---------------------------------------------------------------------------
# P11: site grouping projection
# ---------------------------------------------------------------------------

def _site_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        fx.resources(spark, sf_dir)
        .groupBy("resource_site", "resource_class")
        .agg(F.count("*").alias("n_resources"))
    )


_SITE_GROUPING_ORACLE = f"""
WITH {fx.RESOURCES_CTE}
SELECT resource_site, resource_class, count(*) AS n_resources
FROM resources_flat GROUP BY resource_site, resource_class
"""


# ---------------------------------------------------------------------------
# J1: enrichment lookup join (broadcast) + aggregation
# ---------------------------------------------------------------------------

def _enrichment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    points = fx.metric_points_from_events(spark, sf_dir)
    enr = fx.enrichment_flat(spark, sf_dir)
    joined = points.join(F.broadcast(enr), "resource_id", "inner")
    return joined.groupBy("segment", "metrics_group_type").agg(
        F.count("*").alias("n_points"),
        # decimal-exact sum: order-independent across engines
        F.round(F.sum(F.col("metric_value").cast("decimal(20,2)")), 2)
        .cast("double")
        .alias("sum_value"),
        F.max("configured_speed").alias("max_speed"),
    )


_ENRICHMENT_JOIN_ORACLE = f"""
WITH {fx.EVENTS_POINTS_CTE}, {fx.ENRICHMENT_CTE}
SELECT e.segment, p.metrics_group_type,
  count(*) AS n_points,
  CAST(round(sum(CAST(p.metric_value AS DECIMAL(20,2))), 2) AS DOUBLE) AS sum_value,
  max(e.configured_speed) AS max_speed
FROM metric_points p JOIN enrichment_flat e USING (resource_id)
GROUP BY e.segment, p.metrics_group_type
"""


# ---------------------------------------------------------------------------
# J6/W1/W2: counter→gauge rate transform (batch lag form)
# ---------------------------------------------------------------------------

_RATE_INTERVAL = 86400  # events inter-arrival ~ hours; 3×interval guard active


def _rate_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    points = fx.metric_points_from_events(spark, sf_dir)
    return rate_transform(
        points,
        series_cols=["resource_id", "metrics_group_type"],
        ts_col="ts_ms",
        value_col="metric_value",
        interval_sec=_RATE_INTERVAL,
    )


_RATE_ORACLE = rate_oracle_sql(
    "SELECT 'user-' || CAST(user_id AS VARCHAR) AS resource_id,"
    " event_type AS metrics_group_type, epoch_ms(ts) AS ts_ms,"
    " value AS metric_value, event_id FROM events",
    series_cols=["resource_id", "metrics_group_type"],
    interval_sec=_RATE_INTERVAL,
)


# ---------------------------------------------------------------------------
# §2.9: the Generic metric-computation DSL program end-to-end (J2 $index
# joins, P6 indices_from, F1 casts, F2 transform lambda, A1 conditional
# count, v0.2 top-level merge)
# ---------------------------------------------------------------------------

_DSL_PROGRAM = {
    "oids": {
        "sensor_value": {"method": "bulk_walk", "oid": ".1.3.6.1.4.1.2636.3.1.13.1.7"},
        "sensor_scale": {"method": "bulk_walk", "oid": ".1.3.6.1.4.1.2636.3.1.13.1.6"},
    },
    "metrics_groups": [
        {
            "group_name": "environment",
            "dimensions": {
                "sensor": {"value": "$index", "indices_from": "sensor_scale"}
            },
            "metrics": {
                "temperature_f": {
                    "indices_from": "sensor_scale",
                    "type": "float",
                    "value": "int(sensor_value.$index) * int(sensor_scale.$index)",
                    "transform": "lambda x: round((x * 1.8) + 32, 2)",
                },
                "sensors_total": {
                    "value": "len([x for x in sensor_value.values() if int(x) > 25])"
                },
            },
        }
    ],
}


def _compiled_dsl_program(
    spark: SparkSession, sf_dir: str, tag: str, program: dict
) -> DataFrame:
    """The compiled plan of ``program``, memoized per (session, sf_dir,
    program tag) while lineitem is unchanged. MetricDSLCompiler.compile()
    is PURE plan construction (no driver action anywhere in the
    compiler — nothing data-derived is embedded), but it builds hundreds
    of tiny frames and re-analyzes deep trees: ~0.5 s of driver latency
    per compile at ANY scale (r11 "not yet optimized" #2). Every action
    on the memoized plan computes from the parquet inputs: the compiled
    program is one pass over the oid tables (one lineitem scan, one
    device_id exchange) with nothing cached, so a
    ``session.release`` between actions costs it nothing."""
    import os as _os

    from panoptes_spark import memo
    from panoptes_spark.dsl.metric_compiler import (
        MetricDSLCompiler,
        flatten_groups,
    )

    def build():
        tables = fx.oid_tables_from_lineitem(spark, sf_dir)
        comp = MetricDSLCompiler(spark, program, tables, interval_sec=60)
        return flatten_groups(comp.compile())

    lineitem = _os.path.join(sf_dir, "lineitem.parquet")
    return memo.cached(spark, ("dsl", sf_dir, tag), [lineitem], build)


def _dsl_metric_program(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _compiled_dsl_program(spark, sf_dir, "dsl_metric", _DSL_PROGRAM)


_DSL_METRIC_ORACLE = f"""
WITH {fx.OID_TABLES_CTE},
temps AS (
  SELECT s.device_id, s.index,
         round((TRY_CAST(v.value AS BIGINT) * TRY_CAST(s.value AS BIGINT)) * 1.8 + 32, 2)
           AS metric_value
  FROM sensor_scale s
  LEFT JOIN sensor_value v ON s.device_id = v.device_id AND s.index = v.index
  WHERE TRY_CAST(v.value AS BIGINT) IS NOT NULL
),
totals AS (
  SELECT device_id, CAST(count(*) AS DOUBLE) AS cnt
  FROM sensor_value WHERE TRY_CAST(value AS BIGINT) > 25 GROUP BY device_id
)
SELECT t.device_id, 'environment' AS metrics_group_type,
       CAST(60 AS BIGINT) AS metrics_group_interval,
       'sensor=' || t.index AS dims_str,
       'temperature_f' AS metric_name, t.metric_value, 'gauge' AS metric_type
FROM temps t
UNION ALL
SELECT t.device_id, 'environment', CAST(60 AS BIGINT), 'sensor=' || t.index,
       'sensors_total', tot.cnt, 'gauge'
FROM temps t JOIN totals tot ON t.device_id = tot.device_id
"""


# ---------------------------------------------------------------------------
# Interface enrichment BUILDER (walk -> enrichment): the vendor-grammar
# twin of the reference enrichment plugin family, driver-checked against
# a DuckDB oracle that mirrors every rule (ifType registry decode,
# speed fallthrough sentinels, MAC render, juniper parent grammar with
# the QFX 'et' = 100G model exception). Synthetic walk derives from
# lineitem; absent OID rows model real walk gaps.
# ---------------------------------------------------------------------------


def _enrich_build_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.operators.interface_enrichment import (
        interface_enrichment,
    )

    li = fx.read_table(spark, sf_dir, "lineitem")
    base = li.groupBy(
        F.concat(F.lit("dev-"), (F.col("l_suppkey") % 5).cast("string")).alias(
            "device_id"
        ),
        (F.col("l_partkey") % 30).alias("idx"),
    ).agg(F.max("l_quantity").cast("long").alias("q"))
    i = F.col("idx")
    name = (
        F.when(i % 5 == 0, F.concat(F.lit("eth"), i.cast("string")))
        .when(i % 5 == 1, F.concat(F.lit("ge-1/"), i.cast("string")))
        .when(
            i % 5 == 2,
            F.concat(
                F.lit("ge-1/"), (i - 1).cast("string"),
                F.lit("."), (i % 7).cast("string"),
            ),
        )
        .when(i % 5 == 3, F.concat(F.lit("et-0/"), i.cast("string")))
        .otherwise(F.concat(F.lit("xe-2/0:"), i.cast("string")))
    )
    cols = F.array(
        F.struct(
            F.lit("if_type").alias("column"),
            ((i * 7) % 250 + 1).cast("string").alias("value"),
        ),
        F.struct(
            F.lit("if_descr").alias("column"),
            F.concat(F.lit("port "), i.cast("string")).alias("value"),
        ),
        F.struct(F.lit("if_name").alias("column"), name.alias("value")),
        F.struct(
            F.lit("if_alias").alias("column"),
            F.when(i % 6 == 1, F.lit(None).cast("string"))
            .when(i % 6 == 0, F.lit(""))
            .otherwise(F.concat(F.lit("al"), i.cast("string")))
            .alias("value"),
        ),
        F.struct(
            F.lit("if_high_speed").alias("column"),
            F.when(i % 5 == 0, F.lit("0"))
            .when(i % 5 == 1, F.lit("1"))
            .when(i % 5 == 2, F.lit(None).cast("string"))
            .otherwise((F.col("q") % 90000 + 2).cast("string"))
            .alias("value"),
        ),
        F.struct(
            F.lit("if_speed").alias("column"),
            F.when(i % 4 == 3, F.lit(None).cast("string"))
            .when(i % 3 == 0, F.lit("0"))
            .otherwise(((F.col("q") * 7) % 100000000).cast("string"))
            .alias("value"),
        ),
        F.struct(
            F.lit("if_phys_hex").alias("column"),
            F.when(i % 8 == 0, F.lit(None).cast("string"))
            .otherwise(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("device_id"), F.lit("#"), i.cast("string")
                        )
                    ),
                    1,
                    12,
                )
            )
            .alias("value"),
        ),
    )
    walk = (
        base.select(
            "device_id",
            i.cast("string").alias("index"),
            F.explode(cols).alias("t"),
        )
        .where(F.col("t.value").isNotNull())
        .select("device_id", "t.column", "index", "t.value")
    )
    return interface_enrichment(
        spark, walk, vendor="juniper", device_model="QFX5200"
    )


def _enrich_build_oracle() -> str:
    from panoptes_spark.operators.interface_enrichment import _IFTYPE_NAMES

    names_sql = ", ".join(f"'{n}'" for n in _IFTYPE_NAMES)
    return f"""
WITH base AS (
  SELECT 'dev-' || (l_suppkey % 5) AS device_id,
         (l_partkey % 30) AS idx,
         CAST(max(l_quantity) AS BIGINT) AS q
  FROM lineitem GROUP BY 1, 2
),
fields AS (
  SELECT device_id, idx, q,
    CASE WHEN idx % 5 = 0 THEN 'eth' || idx
         WHEN idx % 5 = 1 THEN 'ge-1/' || idx
         WHEN idx % 5 = 2 THEN 'ge-1/' || (idx - 1) || '.' || (idx % 7)
         WHEN idx % 5 = 3 THEN 'et-0/' || idx
         ELSE 'xe-2/0:' || idx END AS name,
    'port ' || idx AS descr,
    list_extract([{names_sql}], CAST((idx * 7) % 250 + 1 AS INT)) AS media,
    CASE WHEN idx % 6 = 1 THEN NULL WHEN idx % 6 = 0 THEN ''
         ELSE 'al' || idx END AS alias_raw,
    CASE WHEN idx % 5 = 0 THEN '0' WHEN idx % 5 = 1 THEN '1'
         WHEN idx % 5 = 2 THEN NULL
         ELSE CAST(q % 90000 + 2 AS VARCHAR) END AS high,
    CASE WHEN idx % 4 = 3 THEN NULL WHEN idx % 3 = 0 THEN '0'
         ELSE CAST((q * 7) % 100000000 AS VARCHAR) END AS speed,
    CASE WHEN idx % 8 = 0 THEN NULL
         ELSE substr(md5(device_id || '#' || idx), 1, 12) END AS phys
  FROM base
),
enr AS (
  SELECT device_id, CAST(idx AS VARCHAR) AS interface_index, name, descr,
    media AS media_type,
    CASE WHEN alias_raw IS NOT NULL AND alias_raw <> '' THEN alias_raw
         ELSE '<not set>' END AS alias,
    -- get_configured_speed fallthrough (incl. missing-ifSpeed -1 path)
    CASE WHEN high IS NOT NULL AND high NOT IN ('0', '1')
           THEN CAST(high AS BIGINT) * 1000000
         WHEN COALESCE(CAST(speed AS BIGINT), -1) <> 0
           THEN COALESCE(CAST(speed AS BIGINT), -1)
         WHEN high IS NOT NULL THEN CAST(high AS BIGINT) * 1000000
         ELSE -1 END AS configured_speed,
    CASE WHEN phys IS NOT NULL AND phys <> ''
           THEN upper(substr(phys,1,2) || ':' || substr(phys,3,2) || ':' ||
                      substr(phys,5,2) || ':' || substr(phys,7,2) || ':' ||
                      substr(phys,9,2) || ':' || substr(phys,11,2))
         ELSE '<not set>' END AS physical_address,
    CASE WHEN strpos(name, '.') > 0 THEN split_part(name, '.', 1)
         WHEN strpos(name, ':') > 0 THEN split_part(name, ':', 1)
         ELSE '<not set>' END AS parent_interface_name
  FROM fields
),
spd AS (
  SELECT *,
    -- juniper port-speed prefixes, model QFX5200 ('et' => 100G)
    CASE WHEN name LIKE 'ge%' THEN 1000000000
         WHEN name LIKE 'xe%' THEN 10000000000
         WHEN name LIKE 'xle%' THEN 40000000000
         WHEN name LIKE 'et%' THEN 100000000000
         WHEN name LIKE 'fte%' THEN 40000000000
         ELSE configured_speed END AS port_speed
  FROM enr
)
SELECT s.device_id, s.interface_index,
  s.name AS interface_name, s.descr AS description, s.media_type, s.alias,
  s.configured_speed, s.port_speed, s.physical_address,
  s.parent_interface_name,
  CASE WHEN s.parent_interface_name <> '<not set>' AND p.name IS NOT NULL
       THEN p.media_type ELSE '<not set>' END AS parent_interface_media_type,
  CASE WHEN s.parent_interface_name <> '<not set>' AND p.name IS NOT NULL
       THEN p.configured_speed ELSE -1 END
    AS parent_interface_configured_speed,
  CASE WHEN s.parent_interface_name <> '<not set>' AND p.name IS NOT NULL
       THEN p.port_speed ELSE -1 END AS parent_interface_port_speed
FROM spd s LEFT JOIN spd p
  ON s.device_id = p.device_id AND s.parent_interface_name = p.name
"""


# ---------------------------------------------------------------------------
# Interface polling pipeline (J1 broadcast enrichment join, J4 parent
# self-join, A3 sentinel-propagating sums, F3 octets->bits, F11 state
# decode, F12 sentinels) over lineitem/part-derived fixtures
# ---------------------------------------------------------------------------


def _iface_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.operators.interface_metrics import (
        attach_enrichment,
        interface_metrics,
        resolve_parent_attrs,
    )

    li = fx.read_table(spark, sf_dir, "lineitem")
    raw = (
        li.groupBy(
            F.concat(F.lit("dev-"), (F.col("l_suppkey") % 5).cast("string")).alias(
                "device_id"
            ),
            (F.col("l_partkey") % 20).cast("string").alias("interface_index"),
        )
        .agg(
            F.max("l_quantity").cast("long").alias("octets_in"),
            F.min("l_quantity").cast("long").alias("octets_out"),
            F.count("*").alias("unicast_packets_in"),
            F.count("*").alias("unicast_packets_out"),
            F.when(
                F.max("l_partkey") % 7 == 0, F.lit(None).cast("long")
            ).otherwise(F.max("l_linenumber").cast("long")).alias(
                "multicast_packets_in"
            ),
            F.max("l_linenumber").cast("long").alias("multicast_packets_out"),
            F.max(F.col("l_suppkey") % 10).cast("long").alias("broadcast_packets_in"),
            F.max(F.col("l_suppkey") % 10).cast("long").alias("broadcast_packets_out"),
            F.lit(0).cast("long").alias("errors_in"),
            F.lit(0).cast("long").alias("errors_out"),
            F.lit(0).cast("long").alias("discards_in"),
            F.lit(0).cast("long").alias("discards_out"),
            F.lit(None).cast("long").alias("errors_frame"),
            F.lit(0).cast("long").alias("errors_crc"),
            F.lit(0).cast("long").alias("errors_giants"),
            F.lit(1).alias("admin_state"),
            F.max(
                F.when(F.col("l_partkey") % 3 == 0, 2).otherwise(1)
            ).alias("oper_state"),
        )
    )
    part = fx.read_table(spark, sf_dir, "part")
    enr_base = (
        part.groupBy((F.col("p_partkey") % 20).cast("string").alias("interface_index"))
        .agg(F.min("p_name").alias("p_name"), F.min("p_type").alias("p_type"))
        .select(
            "interface_index",
            F.concat(F.lit("if-"), F.col("interface_index")).alias("interface_name"),
            F.col("p_type").alias("media_type"),
            (F.col("interface_index").cast("long") * 1000).alias("configured_speed"),
            (F.col("interface_index").cast("long") * 1000).alias("port_speed"),
            F.concat(
                F.lit("if-"), (F.col("interface_index").cast("int") % 4).cast("string")
            ).alias("parent_interface_name"),
        )
    )
    devices = raw.select("device_id").distinct()
    enr = devices.crossJoin(F.broadcast(enr_base))
    enr = resolve_parent_attrs(enr)
    out = attach_enrichment(interface_metrics(raw), enr)
    return out.select(
        "device_id",
        "interface_index",
        "bits_in",
        "bits_out",
        "total_packets_in",
        "oper_state_name",
        "oper_admin_state_mismatch",
        "interface_name",
        "parent_interface_media_type",
    )


_IFACE_ORACLE = """
WITH raw AS (
  SELECT 'dev-' || CAST(l_suppkey % 5 AS VARCHAR) AS device_id,
         CAST(l_partkey % 20 AS VARCHAR) AS interface_index,
         CAST(max(l_quantity) AS BIGINT) AS octets_in,
         CAST(min(l_quantity) AS BIGINT) AS octets_out,
         count(*) AS uni_in,
         CASE WHEN max(l_partkey) % 7 = 0 THEN NULL
              ELSE CAST(max(l_linenumber) AS BIGINT) END AS multi_in,
         CAST(max(l_suppkey % 10) AS BIGINT) AS bcast_in,
         1 AS admin_state,
         max(CASE WHEN l_partkey % 3 = 0 THEN 2 ELSE 1 END) AS oper_state
  FROM lineitem GROUP BY 1, 2
),
enr_base AS (
  SELECT CAST(p_partkey % 20 AS VARCHAR) AS interface_index,
         'if-' || CAST(p_partkey % 20 AS VARCHAR) AS interface_name,
         min(p_type) AS media_type,
         'if-' || CAST((p_partkey % 20) % 4 AS VARCHAR) AS parent_interface_name
  FROM part GROUP BY p_partkey % 20
),
enr AS (
  SELECT d.device_id, e.*,
         p.media_type AS parent_media
  FROM (SELECT DISTINCT device_id FROM raw) d
  CROSS JOIN enr_base e
  LEFT JOIN enr_base p ON e.parent_interface_name = p.interface_name
)
SELECT r.device_id, r.interface_index,
  CASE WHEN r.octets_in IS NULL THEN -1 ELSE r.octets_in * 8 END AS bits_in,
  CASE WHEN r.octets_out IS NULL THEN -1 ELSE r.octets_out * 8 END AS bits_out,
  CASE WHEN COALESCE(r.uni_in, -1) <> -1 AND COALESCE(r.multi_in, -1) <> -1
            AND COALESCE(r.bcast_in, -1) <> -1
       THEN r.uni_in + r.multi_in + r.bcast_in ELSE -1 END AS total_packets_in,
  CASE r.oper_state WHEN 1 THEN 'up' WHEN 2 THEN 'down'
       ELSE 'unknown' END AS oper_state_name,
  CASE WHEN COALESCE(r.admin_state, -1) = COALESCE(r.oper_state, -1)
       THEN 0 ELSE 1 END AS oper_admin_state_mismatch,
  COALESCE(NULLIF(e.interface_name, ''), '<not set>') AS interface_name,
  COALESCE(NULLIF(e.parent_media, ''), '<not set>') AS parent_interface_media_type
FROM raw r
LEFT JOIN enr e ON r.device_id = e.device_id
  AND r.interface_index = e.interface_index
"""


# ---------------------------------------------------------------------------
# J5/W5: resource reconciliation with timestamp conflict resolution.
# Paired snapshots derived from orders: current = keys with k%5<4,
# incoming = keys with k%5>0; ts collisions via k%7.
# ---------------------------------------------------------------------------

_RECONCILE_SET_TS = 50.0


def _reconcile_snapshots(spark: SparkSession, sf_dir: str):
    o = fx.read_table(spark, sf_dir, "orders")
    cur = o.where(F.col("o_orderkey") % 5 < 4).select(
        "o_orderkey",
        (F.col("o_orderkey") % 100).cast("double").alias("ts"),
        F.col("o_totalprice").alias("price"),
    )
    inc = o.where(F.col("o_orderkey") % 5 > 0).select(
        "o_orderkey",
        (
            (F.col("o_orderkey") % 100)
            + F.when(F.col("o_orderkey") % 7 == 0, -10).otherwise(10)
        ).cast("double").alias("ts"),
        # decimal-exact: double*1.1 rounds differently across engines
        F.expr(
            "cast(round(cast(o_totalprice as decimal(18,2)) *"
            " cast(1.1 as decimal(3,2)), 2) as double)"
        ).alias("price"),
    )
    return cur, inc


def _reconcile_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.operators.reconcile import reconcile

    cur, inc = _reconcile_snapshots(spark, sf_dir)
    return reconcile(
        cur, inc, _RECONCILE_SET_TS, identity_cols=["o_orderkey"], ts_col="ts"
    ).select("o_orderkey", "action", "cur_ts", "inc_ts", "cur_price", "inc_price")


def _reconcile_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.operators.reconcile import apply_reconciliation

    cur, inc = _reconcile_snapshots(spark, sf_dir)
    return apply_reconciliation(
        cur, inc, _RECONCILE_SET_TS, identity_cols=["o_orderkey"], ts_col="ts"
    )


_RECONCILE_CTE = f"""
cur AS (
  SELECT o_orderkey, CAST(o_orderkey % 100 AS DOUBLE) AS ts,
         o_totalprice AS price
  FROM orders WHERE o_orderkey % 5 < 4
),
inc AS (
  SELECT o_orderkey,
         CAST((o_orderkey % 100) + CASE WHEN o_orderkey % 7 = 0 THEN -10 ELSE 10 END AS DOUBLE) AS ts,
         CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(3,2)), 2) AS DOUBLE) AS price
  FROM orders WHERE o_orderkey % 5 > 0
),
plan AS (
  SELECT COALESCE(cur.o_orderkey, inc.o_orderkey) AS o_orderkey,
         cur.ts AS cur_ts, inc.ts AS inc_ts,
         cur.price AS cur_price, inc.price AS inc_price,
         CASE
           WHEN cur.ts IS NOT NULL AND inc.ts IS NULL AND cur.ts > {_RECONCILE_SET_TS} THEN 'keep_newer'
           WHEN cur.ts IS NOT NULL AND inc.ts IS NULL THEN 'delete'
           WHEN cur.ts IS NULL AND inc.ts IS NOT NULL THEN 'add'
           WHEN cur.ts > inc.ts THEN 'skip_update'
           ELSE 'update'
         END AS action
  FROM cur FULL OUTER JOIN inc USING (o_orderkey)
)
"""

_RECONCILE_PLAN_ORACLE = f"""
WITH {_RECONCILE_CTE}
SELECT o_orderkey, action, cur_ts, inc_ts, cur_price, inc_price FROM plan
"""


def _j5_field_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-level change capture on the reconcile plan (CDC-style): for
    every applied update, one row per field whose value actually changed
    — the audit trail a store merge should ship. Narrow over the plan:
    explode a literal field array + a null-safe inequality filter."""
    plan = _reconcile_plan(spark, sf_dir)
    fields = F.array(
        F.struct(
            F.lit("ts").alias("field"),
            F.col("cur_ts").alias("old_value"),
            F.col("inc_ts").alias("new_value"),
        ),
        F.struct(
            F.lit("price").alias("field"),
            F.col("cur_price").alias("old_value"),
            F.col("inc_price").alias("new_value"),
        ),
    )
    return (
        plan.where(F.col("action") == "update")
        .select("o_orderkey", F.explode(fields).alias("__d"))
        .select("o_orderkey", "__d.field", "__d.old_value", "__d.new_value")
        .where(~F.col("old_value").eqNullSafe(F.col("new_value")))
    )


_J5_FIELD_DIFF_ORACLE = f"""
WITH {_RECONCILE_CTE},
upd AS (SELECT * FROM plan WHERE action = 'update'),
d AS (
  SELECT o_orderkey, 'ts' AS field, cur_ts AS old_value, inc_ts AS new_value
  FROM upd
  UNION ALL
  SELECT o_orderkey, 'price', cur_price, inc_price FROM upd
)
SELECT * FROM d WHERE old_value IS DISTINCT FROM new_value
"""

_RECONCILE_APPLY_ORACLE = f"""
WITH {_RECONCILE_CTE}
SELECT o_orderkey,
       CASE WHEN action IN ('add','update') THEN inc_ts ELSE cur_ts END AS ts,
       CASE WHEN action IN ('add','update') THEN inc_price ELSE cur_price END AS price
FROM plan WHERE action <> 'delete'
"""


# ---------------------------------------------------------------------------
# Aggregation showcase (A-family): pricing summary over lineitem.
# Decimal-exact sums, cast to double at the end → engine-stable hashes.
# ---------------------------------------------------------------------------

def _pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 pricing summary with every money step EXACT in decimals:
    DECIMAL(28,6) squared overflows 38 digits and both engines then
    round DIFFERENTLY (a sum_disc_price hash mismatch surfaced at
    sf0.001) — tight precisions keep the three-factor product at
    (38,18)/(36,18), inside exact range for Spark and DuckDB alike."""
    li = fx.read_table(spark, sf_dir, "lineitem")
    li = li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
    qty = F.col("l_quantity").cast("decimal(18,6)")
    price = F.col("l_extendedprice").cast("decimal(18,6)")
    one = F.lit(1).cast("decimal(7,6)")
    disc_f = one - F.col("l_discount").cast("decimal(8,6)")
    tax_f = one + F.col("l_tax").cast("decimal(8,6)")
    # round(… , 2) BEFORE the double cast: DuckDB converts wide-scale
    # decimals to double via hugeint/10^scale in floating point (off by
    # an ulp on ~1e9 sums at scale 12+), while Spark's BigDecimal
    # conversion is correctly rounded. At scale 2 the conversion is
    # exact on both engines — and money answers are 2dp anyway.
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.round(F.sum(price), 2).cast("double").alias("sum_base_price"),
            F.round(F.sum(price * disc_f), 2).cast("double")
            .alias("sum_disc_price"),
            F.round(F.sum(price * disc_f * tax_f), 2).cast("double")
            .alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


# NOTE the DECIMAL(18,2/4) rescale before every decimal->double cast (here
# and in the other money oracles): DuckDB converts the decimal's int128
# unscaled value to double BEFORE dividing by 10^scale, so a high-scale
# sum whose unscaled value exceeds 2^53 can come back 1 ulp off the
# correctly-rounded cast Spark produces (observed: a11 at sf1). The
# rescale is value-exact (the quantities carry <= 2dp / products <= 4dp)
# and keeps the unscaled value < 2^53 for any SF this repo benches.
_PRICING_SUMMARY_ORACLE = """
SELECT l_returnflag, l_linestatus,
  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(18,2))
    AS DOUBLE) AS sum_qty,
  CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2)
    AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
  CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
    * (CAST(1 AS DECIMAL(7,6)) - CAST(l_discount AS DECIMAL(8,6)))), 2)
    AS DECIMAL(18,2)) AS DOUBLE) AS sum_disc_price,
  CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
    * (CAST(1 AS DECIMAL(7,6)) - CAST(l_discount AS DECIMAL(8,6)))
    * (CAST(1 AS DECIMAL(7,6)) + CAST(l_tax AS DECIMAL(8,6)))), 2)
    AS DECIMAL(18,2)) AS DOUBLE) AS sum_charge,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# A2 / A4 / A5 / W3+S10 / U2 operator gate queries
# ---------------------------------------------------------------------------


def _a2_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.operators.status import group_count_by_type

    o = fx.read_table(spark, sf_dir, "orders")
    return group_count_by_type(o, ["o_orderstatus"], "o_orderpriority")


_A2_ORACLE = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n
FROM orders GROUP BY o_orderstatus, o_orderpriority
"""


def _a4_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.operators.status import status_rollup

    li = fx.read_table(spark, sf_dir, "lineitem")
    statuses = li.select(
        F.concat(F.lit("dev-"), (F.col("l_suppkey") % 50).cast("string")).alias(
            "device_id"
        ),
        F.when(F.col("l_returnflag") == "R", 2)
        .when((F.col("l_linestatus") == "F") & (F.col("l_discount") > 0.05), 1)
        .otherwise(0)
        .alias("status"),
    )
    return status_rollup(statuses)


_A4_ORACLE = """
WITH statuses AS (
  SELECT 'dev-' || CAST(l_suppkey % 50 AS VARCHAR) AS device_id,
         CASE WHEN l_returnflag = 'R' THEN 2
              WHEN l_linestatus = 'F' AND l_discount > 0.05 THEN 1
              ELSE 0 END AS status
  FROM lineitem
),
per_code AS (
  SELECT device_id, status, count(*) AS n FROM statuses GROUP BY 1, 2
),
ranked AS (
  SELECT device_id, status, n,
         row_number() OVER (PARTITION BY device_id
           ORDER BY CASE WHEN status = 0 THEN -1 ELSE n END DESC, status ASC) AS rk,
         sum(CASE WHEN status = 0 THEN n ELSE 0 END) OVER (PARTITION BY device_id) AS n_ok,
         sum(n) OVER (PARTITION BY device_id) AS n_total
  FROM per_code
)
SELECT device_id,
  CASE WHEN n_ok = n_total THEN 'SUCCESS'
       WHEN n_ok > 0 THEN 'PARTIAL_METRIC_FAILURE'
       ELSE 'FAILURE_' || CAST(status AS VARCHAR) END AS device_status
FROM ranked WHERE rk = 1
"""


def _a5_ping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.operators.status import ping_stats

    e = fx.read_events(spark, sf_dir)
    probes = e.select(
        F.concat(F.lit("user-"), F.col("user_id").cast("string")).alias("device_id"),
        F.when(F.col("event_type") != "error", F.col("value")).alias("rtt_ms"),
    )
    return ping_stats(probes)


_A5_ORACLE = """
WITH probes AS (
  SELECT 'user-' || CAST(user_id AS VARCHAR) AS device_id,
         CASE WHEN event_type <> 'error' THEN value END AS rtt_ms
  FROM events
)
SELECT device_id, packets_transmitted, packets_received, packet_loss_pct,
  round_trip_min,
  -- integer half-up round of the avg in 0.001-ms units: sum/n can land
  -- EXACTLY on a .0005 tie and a float round is then decided by the ulp
  CASE WHEN packets_received > 0 THEN
    CAST((2*s6 + 1000*packets_received) // (2000*packets_received) AS DOUBLE)
      / 1000.0 END AS round_trip_avg,
  round_trip_max,
  CASE WHEN packets_received > 0 THEN
    round(sqrt(greatest(
      CAST(packets_received * sq - s6 * s6 AS DOUBLE)
        / (CAST(packets_received AS DOUBLE) * packets_received * 1e12),
      0.0)), 3) END AS round_trip_stddev
FROM (
  SELECT device_id,
    count(*) AS packets_transmitted,
    count(rtt_ms) AS packets_received,
    round((count(*) - count(rtt_ms)) * 100.0 / count(*), 2) AS packet_loss_pct,
    round(min(rtt_ms), 3) AS round_trip_min,
    sum(CAST(CAST(rtt_ms AS DECIMAL(20,6)) * 1000000 AS BIGINT)) AS s6,
    sum(CAST(CAST(CAST(rtt_ms AS DECIMAL(20,6)) * 1000000 AS BIGINT) AS HUGEINT)
        * CAST(CAST(rtt_ms AS DECIMAL(20,6)) * 1000000 AS BIGINT)) AS sq,
    round(max(rtt_ms), 3) AS round_trip_max
  FROM probes GROUP BY device_id
)
"""


def _w3_ttl_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.sources.stores import expire, upsert_with_ttl

    c = fx.read_table(spark, sf_dir, "customer")
    store = c.select(
        F.concat(F.lit("cust:"), F.col("c_custkey").cast("string")).alias("key"),
        F.col("c_acctbal").alias("value"),
        (F.col("c_custkey") % 100).cast("double").alias("expires_at"),
    )
    updates = c.where(F.col("c_custkey") % 3 == 0).select(
        F.concat(F.lit("cust:"), F.col("c_custkey").cast("string")).alias("key"),
        (F.col("c_acctbal") * 2).alias("value"),
        F.lit(120).alias("ttl"),
    )
    merged = upsert_with_ttl(store, updates, ["key"], now=10.0)
    return expire(merged, now=50.0)


_W3_ORACLE = """
WITH store AS (
  SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS key, c_acctbal AS value,
         CAST(c_custkey % 100 AS DOUBLE) AS expires_at
  FROM customer
),
updates AS (
  SELECT 'cust:' || CAST(c_custkey AS VARCHAR) AS key, c_acctbal * 2 AS value,
         CAST(10.0 + 120 AS DOUBLE) AS expires_at
  FROM customer WHERE c_custkey % 3 = 0
),
merged AS (
  SELECT s.* FROM store s LEFT JOIN updates u USING (key) WHERE u.key IS NULL
  UNION ALL
  SELECT * FROM updates
)
SELECT * FROM merged WHERE expires_at IS NULL OR expires_at > 50.0
"""


def _u2_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = fx.read_table(spark, sf_dir, "orders")
    cur = o.where(F.col("o_orderkey") % 5 < 4).select("o_orderkey")
    inc = o.where(F.col("o_orderkey") % 5 > 0).select("o_orderkey")
    only_cur = cur.join(inc, "o_orderkey", "left_anti").agg(
        F.count("*").alias("n")
    ).select(F.lit("only_cur").alias("tag"), "n")
    only_inc = inc.join(cur, "o_orderkey", "left_anti").agg(
        F.count("*").alias("n")
    ).select(F.lit("only_inc").alias("tag"), "n")
    both = cur.join(inc, "o_orderkey", "left_semi").agg(
        F.count("*").alias("n")
    ).select(F.lit("both").alias("tag"), "n")
    return only_cur.unionByName(only_inc).unionByName(both)


_U2_ORACLE = """
WITH cur AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 5 < 4),
inc AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 5 > 0)
SELECT 'only_cur' AS tag, count(*) AS n FROM cur
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM inc)
UNION ALL
SELECT 'only_inc', count(*) FROM inc
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM cur)
UNION ALL
SELECT 'both', count(*) FROM cur
  WHERE o_orderkey IN (SELECT o_orderkey FROM inc)
"""


# ---------------------------------------------------------------------------
# U3 / enrichment.py:457-494: PanoptesEnrichmentMultiGroupSet — cross-
# resource grouping. Flat enrichment rows (two namespaces, with key
# collisions resolved last-write-wins like the reference's discard+add)
# assemble into nested per-resource GroupSets; the gate projects the
# reference's identity semantics (sorted-namespace string, set sizes) plus
# an md5 digest of the canonical serialization, all DERIVED FROM THE
# NESTED shape so the assembly itself is what the oracle checks.
# ---------------------------------------------------------------------------


def _u_multigroupset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.operators.enrichment_groups import (
        assemble_group_sets,
        multi_group_set_summary,
    )

    c = fx.read_table(spark, sf_dir, "customer")
    rid = F.concat(F.lit("user-"), (F.col("c_custkey") % 100).cast("string"))
    iface = c.select(
        rid.alias("resource_id"),
        F.lit("interface").alias("namespace"),
        (F.col("c_custkey") % 8).cast("string").alias("key"),
        F.concat(
            F.lower("c_mktsegment"),
            F.lit("#"),
            ((F.col("c_custkey") % 4 + 1) * 10000).cast("string"),
        ).alias("value"),
        F.col("c_custkey").alias("ord"),
    )
    oper = c.select(
        rid.alias("resource_id"),
        F.lit("operational").alias("namespace"),
        F.lit("model").alias("key"),
        F.concat(F.lit("model-"), (F.col("c_custkey") % 7).cast("string")).alias(
            "value"
        ),
        F.col("c_custkey").alias("ord"),
    )
    nested = assemble_group_sets(iface.unionByName(oper), order_col="ord")
    return multi_group_set_summary(nested).orderBy("resource_id")


_U_MULTIGROUPSET_ORACLE = """
WITH flat AS (
  SELECT 'user-' || CAST(c_custkey % 100 AS VARCHAR) AS resource_id,
         'interface' AS namespace,
         CAST(c_custkey % 8 AS VARCHAR) AS key,
         lower(c_mktsegment) || '#' ||
           CAST((c_custkey % 4 + 1) * 10000 AS VARCHAR) AS value,
         c_custkey AS ord
  FROM customer
  UNION ALL
  SELECT 'user-' || CAST(c_custkey % 100 AS VARCHAR),
         'operational', 'model',
         'model-' || CAST(c_custkey % 7 AS VARCHAR), c_custkey
  FROM customer
),
win AS (
  SELECT resource_id, namespace, key, value FROM (
    SELECT *, row_number() OVER (PARTITION BY resource_id, namespace, key
               ORDER BY ord DESC, value DESC) AS rn
    FROM flat
  ) WHERE rn = 1
),
per_ns AS (
  SELECT resource_id, namespace,
    string_agg(key || '=' || value, ',' ORDER BY key) AS data_str,
    count(*) AS nk
  FROM win GROUP BY 1, 2
)
SELECT resource_id,
  string_agg(namespace, ',' ORDER BY namespace) AS namespaces,
  CAST(count(*) AS BIGINT) AS n_groups,
  CAST(sum(nk) AS BIGINT) AS n_entries,
  md5(string_agg(namespace || ':' || data_str, ';' ORDER BY namespace)) AS digest
FROM per_ns GROUP BY resource_id
ORDER BY resource_id
"""


# ---------------------------------------------------------------------------
# Windowed aggregation over the event stream: tumbling 1-day windows via
# F.window (identical API in Structured Streaming with a watermark) and
# exact distinct counts
# ---------------------------------------------------------------------------


def _w_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fx.read_events(spark, sf_dir)
    ts = F.timestamp_millis(F.col("ts_ms"))
    win = F.window(ts, "1 day")
    return (
        e.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(20,2)")).cast("double").alias(
                "sum_value"
            ),
            F.count_distinct("user_id").alias("n_users"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "n",
            "sum_value",
            "n_users",
        )
    )


_W_TUMBLING_ORACLE = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(20,2))) AS DOUBLE) AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# P7: empty-dimension suppression through the DSL compiler — same program
# twice: strict group drops indices with an empty dim value; the
# ignore_empty_dimensions group keeps them with the dim omitted
# ---------------------------------------------------------------------------

_P7_PROGRAM = {
    "oids": {
        "sensor_value": {"method": "bulk_walk", "oid": ".1"},
        "sensor_name": {"method": "bulk_walk", "oid": ".3"},
    },
    "metrics_groups": [
        {
            "group_name": "strict",
            "dimensions": {"sensor": "sensor_name.$index"},
            "metrics": {"reading": {"value": "int(sensor_value.$index)",
                                    "indices_from": "sensor_name"}},
        },
        {
            "group_name": "lenient",
            "ignore_empty_dimensions": True,
            "dimensions": {"sensor": "sensor_name.$index"},
            "metrics": {"reading": {"value": "int(sensor_value.$index)",
                                    "indices_from": "sensor_name"}},
        },
    ],
}


def _p7_empty_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _compiled_dsl_program(spark, sf_dir, "p7_empty_dims", _P7_PROGRAM)


_P7_ORACLE = f"""
WITH {fx.OID_TABLES_CTE},
joined AS (
  SELECT n.device_id, n.index, n.value AS sensor,
         TRY_CAST(v.value AS BIGINT) AS reading
  FROM sensor_name n
  LEFT JOIN sensor_value v ON n.device_id = v.device_id AND n.index = v.index
  WHERE TRY_CAST(v.value AS BIGINT) IS NOT NULL
)
-- The reference accumulates metrics groups into a python SET
-- (PanoptesMetricsGroupSet) whose __eq__ IGNORES group_type
-- (framework/metrics.py:405-409): identical (dims, metrics) collapse
-- ACROSS the strict/lenient pair, first program group ('strict') wins.
-- A lenient row for a non-empty sensor is identical to its strict twin
-- and vanishes; only the empty-sensor lenient rows (dim omitted)
-- survive as 'lenient'. DISTINCT within each arm models same-type
-- collapse; each group carries exactly one metric so flattened-row
-- DISTINCT is group-set DISTINCT.
SELECT DISTINCT device_id, 'strict' AS metrics_group_type,
       CAST(60 AS BIGINT) AS metrics_group_interval,
       'sensor=' || sensor AS dims_str,
       'reading' AS metric_name, CAST(reading AS DOUBLE) AS metric_value,
       'gauge' AS metric_type
FROM joined WHERE sensor <> ''
UNION ALL
SELECT DISTINCT device_id, 'lenient', CAST(60 AS BIGINT),
       '', 'reading', CAST(reading AS DOUBLE), 'gauge'
FROM joined WHERE sensor = ''
"""


# ---------------------------------------------------------------------------
# Sessionization over the event stream (gap-based; beyond-reference
# windowing for the telemetry/training pipelines)
# ---------------------------------------------------------------------------

_SESSION_GAP_MS = 6 * 3600 * 1000  # events inter-arrival is hours-scale


def _sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.operators.sessions import session_stats

    e = fx.read_events(spark, sf_dir)
    return session_stats(
        e.select("user_id", "event_id", "ts_ms", "value"),
        ["user_id"],
        gap_ms=_SESSION_GAP_MS,
        value_col="value",
        tiebreak_cols=["event_id"],
    ).orderBy("user_id", "session_id")


_SESSIONIZE_ORACLE = f"""
WITH pts AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value FROM events
),
flagged AS (
  SELECT user_id, event_id, ts_ms, value,
    CASE WHEN lag(ts_ms) OVER w IS NULL
              OR ts_ms - lag(ts_ms) OVER w > {_SESSION_GAP_MS}
         THEN 1 ELSE 0 END AS new_session
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
),
sess AS (
  SELECT user_id, ts_ms, value,
    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
  min(ts_ms) AS session_start_ms,
  max(ts_ms) AS session_end_ms,
  max(ts_ms) - min(ts_ms) AS duration_ms,
  count(*) AS n_events,
  ROUND(CAST(sum(CAST(value AS DECIMAL(20,2))) AS DOUBLE), 6) AS sum_value
FROM sess GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# J8/J9: generic temporal joins (as-of alignment, point-in-interval).
# Beyond-reference: generalizes the rate transform's previous-sample
# lookup (polling_plugin_agent.py:178-242) to arbitrary key/time joins.
# The as-of oracle is DuckDB's native ASOF JOIN — an independent engine
# implementation of the same semantics; the interval oracle is the plain
# inequality join our binned equi-join must reproduce exactly.
# ---------------------------------------------------------------------------

_ASOF_TOL_MS = 7 * 86_400_000  # 7-day staleness ceiling
_IV_LEN_MS = 3 * 86_400_000  # 3-day interval per purchase


def _asof_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.operators.temporal import asof_join

    e = fx.read_events(spark, sf_dir)
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts_ms", "value"
    )
    purch = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts_ms")
        .agg(F.max("value").alias("purchase_value"))
    )
    return asof_join(
        clicks,
        purch,
        by=["user_id"],
        ts_col="ts_ms",
        right_cols=["purchase_value"],
        tolerance_ms=_ASOF_TOL_MS,
    ).select(
        "user_id",
        "event_id",
        "ts_ms",
        "value",
        "matched_ts_ms",
        "matched_purchase_value",
        "staleness_ms",
    )


_ASOF_ORACLE = f"""
WITH clicks AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value
  FROM events WHERE event_type = 'click'
),
purch AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, max(value) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
),
m AS (
  SELECT c.user_id, c.event_id, c.ts_ms, c.value,
         p.ts_ms AS m_ts, p.purchase_value AS m_v
  FROM clicks c ASOF LEFT JOIN purch p
    ON c.user_id = p.user_id AND c.ts_ms >= p.ts_ms
)
SELECT user_id, event_id, ts_ms, value,
  CASE WHEN ts_ms - m_ts <= {_ASOF_TOL_MS} THEN m_ts END AS matched_ts_ms,
  CASE WHEN ts_ms - m_ts <= {_ASOF_TOL_MS} THEN m_v END
    AS matched_purchase_value,
  CASE WHEN ts_ms - m_ts <= {_ASOF_TOL_MS} THEN ts_ms - m_ts END
    AS staleness_ms
FROM m
"""


def _j10_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store point-in-time join: purchase labels pick up the
    latest at-or-before click and view feature values per user in ONE
    keyed shuffle (vs one as-of join per feature)."""
    from panoptes_spark.operators.temporal import pit_features

    e = fx.read_events(spark, sf_dir)
    labels = e.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts_ms"
    )

    def feat(kind):
        return (
            e.where(F.col("event_type") == kind)
            .groupBy("user_id", "ts_ms")
            .agg(F.max("value").alias("value"))
        )

    return pit_features(
        labels,
        {"click_value": feat("click"), "view_value": feat("view")},
        by=["user_id"],
        tolerance_ms=_ASOF_TOL_MS,
    )


_J10_PIT_ORACLE = f"""
WITH labels AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms
  FROM events WHERE event_type = 'purchase'
),
clk AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, max(value) AS v
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
vw AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, max(value) AS v
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
),
m AS (
  SELECT l.user_id, l.event_id, l.ts_ms,
         c.ts_ms AS c_ts, c.v AS c_v, w.ts_ms AS w_ts, w.v AS w_v
  FROM labels l
  ASOF LEFT JOIN clk c ON l.user_id = c.user_id AND l.ts_ms >= c.ts_ms
  ASOF LEFT JOIN vw w ON l.user_id = w.user_id AND l.ts_ms >= w.ts_ms
)
SELECT user_id, event_id, ts_ms,
  CASE WHEN ts_ms - c_ts <= {_ASOF_TOL_MS} THEN c_v END AS click_value,
  CASE WHEN ts_ms - c_ts <= {_ASOF_TOL_MS} THEN ts_ms - c_ts END
    AS click_value_staleness_ms,
  CASE WHEN ts_ms - w_ts <= {_ASOF_TOL_MS} THEN w_v END AS view_value,
  CASE WHEN ts_ms - w_ts <= {_ASOF_TOL_MS} THEN ts_ms - w_ts END
    AS view_value_staleness_ms
FROM m
"""


def _interval_contain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.operators.temporal import interval_join

    e = fx.read_events(spark, sf_dir)
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts_ms"
    )
    iv = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("interval_id"),
        F.col("ts_ms").alias("start_ms"),
        (F.col("ts_ms") + _IV_LEN_MS).alias("end_ms"),
    )
    return interval_join(clicks, iv, by=["user_id"], bin_ms=86_400_000)


_INTERVAL_ORACLE = f"""
WITH clicks AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms
  FROM events WHERE event_type = 'click'
),
iv AS (
  SELECT user_id, event_id AS interval_id, epoch_ms(ts) AS start_ms,
         epoch_ms(ts) + {_IV_LEN_MS} AS end_ms
  FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id, c.event_id, c.ts_ms, iv.interval_id, iv.start_ms, iv.end_ms
FROM clicks c JOIN iv
  ON c.user_id = iv.user_id
 AND c.ts_ms >= iv.start_ms AND c.ts_ms < iv.end_ms
"""


# ---------------------------------------------------------------------------
# A10/A11: multi-join OLAP over the TPC-H-ish tables — the join-planning
# showcases (selective dim broadcast into fact-fact shuffle joins, then
# keyed agg + bounded top-k). Decimal-exact money arithmetic as in the
# pricing summary.
# ---------------------------------------------------------------------------

_DEC = "decimal(28,6)"


def _olap_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: un-shipped revenue per order for one market segment.
    The filtered customer dim broadcasts into the orders⋈lineitem keyed
    join; group on (order, date) then TakeOrdered top-20."""
    c = (
        fx.read_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = fx.read_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = fx.read_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    price = F.col("l_extendedprice").cast(_DEC)
    disc = F.col("l_discount").cast(_DEC)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        )
        .agg(
            F.sum(price * (F.lit(1).cast(_DEC) - disc))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(20)
    )


_OLAP_Q3_ORACLE = """
SELECT l_orderkey,
  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))
           * (1 - CAST(l_discount AS DECIMAL(28,6)))) AS DECIMAL(18,4))
    AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d')
ORDER BY revenue DESC, l_orderkey ASC LIMIT 20
"""


def _olap_regional_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: revenue by nation where customer and supplier share the
    nation, one region, one order-year. Every dim broadcasts; the only
    shuffle is lineitem⋈orders on the order key + the final nation agg."""
    o = fx.read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = fx.read_table(spark, sf_dir, "lineitem")
    c = fx.read_table(spark, sf_dir, "customer")
    s = fx.read_table(spark, sf_dir, "supplier")
    n = fx.read_table(spark, sf_dir, "nation")
    r = fx.read_table(spark, sf_dir, "region").where(
        F.col("r_name") == "ASIA"
    )
    price = F.col("l_extendedprice").cast(_DEC)
    disc = F.col("l_discount").cast(_DEC)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(price * (F.lit(1).cast(_DEC) - disc))
            .cast("double")
            .alias("revenue")
        )
    )


_OLAP_Q5_ORACLE = """
SELECT n_name,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))
           * (1 - CAST(l_discount AS DECIMAL(28,6)))) AS DECIMAL(18,4))
    AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


def _olap_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: orders whose total quantity exceeds a threshold —
    aggregate-then-semi-join: the HAVING aggregate keys filter the fact
    join instead of re-scanning; broadcast of the qualifying key set."""
    li = fx.read_table(spark, sf_dir, "lineitem")
    o = fx.read_table(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).alias("__q"))
        .where(F.col("__q") > 250)
        .select("l_orderkey", F.col("__q").cast("double").alias("total_qty"))
    )
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .select(
            "o_orderkey",
            "o_custkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
    )


_OLAP_Q18_ORACLE = """
WITH big AS (
  SELECT l_orderkey,
    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DECIMAL(18,2))
      AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(28,6))) > 250
)
SELECT o_orderkey, o_custkey, strftime(o_orderdate, '%Y-%m-%d')
         AS o_orderdate,
       o_totalprice, total_qty
FROM orders JOIN big ON o_orderkey = l_orderkey
"""


def _olap_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: revenue lost to returns per customer over a quarter —
    selective fact filter, keyed fact-fact join, broadcast customer/
    nation dims, top-20 by revenue."""
    li = fx.read_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    o = fx.read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    c = fx.read_table(spark, sf_dir, "customer")
    n = fx.read_table(spark, sf_dir, "nation")
    price = F.col("l_extendedprice").cast(_DEC)
    disc = F.col("l_discount").cast(_DEC)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(price * (F.lit(1).cast(_DEC) - disc))
            .cast("double")
            .alias("lost_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("lost_revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


_OLAP_Q10_ORACLE = """
SELECT c_custkey, c_name, n_name,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))
           * (1 - CAST(l_discount AS DECIMAL(28,6)))) AS DECIMAL(18,4))
    AS DOUBLE) AS lost_revenue,
  count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY lost_revenue DESC, c_custkey ASC LIMIT 20
"""


def _w8_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranking-function family over one keyed window: row_number,
    rank, dense_rank, percent_rank, ntile(4), cumulative sum — all share
    a single (user) partitioning, so the plan is one shuffle + one sort
    feeding every function."""
    from pyspark.sql import Window

    e = fx.read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_ms").asc(), F.col("event_id").asc()
    )
    return e.select(
        "user_id",
        "event_id",
        "ts_ms",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.sum(F.col("value").cast("decimal(20,2)"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("cum_value"),
    )


_W8_RANK_ORACLE = """
SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
  CAST(row_number() OVER w AS INT) AS rn,
  CAST(rank() OVER w AS INT) AS rnk,
  CAST(dense_rank() OVER w AS INT) AS drnk,
  round(percent_rank() OVER w, 6) AS prnk,
  CAST(ntile(4) OVER w AS INT) AS quartile,
  CAST(sum(CAST(value AS DECIMAL(20,2))) OVER (
    PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
    AS cum_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
"""


def _olap_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP multi-granularity totals — (flag, status), per-flag, and
    grand total in ONE pass: Catalyst expands grouping sets into a
    single Expand + keyed aggregate, not three scans."""
    li = fx.read_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast(_DEC)).cast("double").alias(
                "sum_qty"
            ),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "n",
            "sum_qty",
        )
    )


_OLAP_ROLLUP_ORACLE = """
SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
       coalesce(l_linestatus, 'ALL') AS l_linestatus,
       count(*) AS n,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DECIMAL(18,2))
         AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def _olap_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decorrelated 'above group average' — the correlated-subquery
    shape (s.acctbal > avg of s's nation) rewritten as a dim-sized
    aggregate broadcast back; the supplier table is scanned once."""
    s = fx.read_table(spark, sf_dir, "supplier")
    avgs = s.groupBy("s_nationkey").agg(
        F.sum(F.col("s_acctbal").cast(_DEC)).alias("__sum"),
        F.count(F.lit(1)).alias("__n"),
    )
    # bal > sum/n expressed division-free (bal*n > sum): exact decimal
    # arithmetic on both engines, immune to decimal-division scale rules
    return (
        s.join(F.broadcast(avgs), "s_nationkey")
        .where(F.col("s_acctbal").cast(_DEC) * F.col("__n") > F.col("__sum"))
        .select("s_suppkey", "s_nationkey", "s_acctbal")
    )


_OLAP_ABOVE_AVG_ORACLE = """
SELECT s_suppkey, s_nationkey, s_acctbal
FROM supplier s
WHERE CAST(s_acctbal AS DECIMAL(28,6)) * (
  SELECT count(*) FROM supplier s2 WHERE s2.s_nationkey = s.s_nationkey
) > (
  SELECT sum(CAST(s2.s_acctbal AS DECIMAL(28,6)))
  FROM supplier s2 WHERE s2.s_nationkey = s.s_nationkey
)
"""


def _olap_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape (customer distribution): orders-per-customer INCLUDING
    zero-order customers — the left-outer + double aggregate that a
    correlated COUNT subquery decorrelates into. The order-side filter
    lives on the join (pre-filtered before it), not the outer WHERE, so
    filtered-out customers still count at c_count=0."""
    c = fx.read_table(spark, sf_dir, "customer")
    o = fx.read_table(spark, sf_dir, "orders").where(
        ~F.col("o_orderpriority").startswith("1-")
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


_OLAP_Q13_ORACLE = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '1-%'
  GROUP BY c_custkey
)
GROUP BY c_count
"""

_Q17_BRANDS = ("Brand#13", "Brand#20")


def _olap_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape (small-quantity revenue): lineitems whose quantity is
    under 20% of their part's average — the correlated per-part AVG
    decorrelated into one part-keyed aggregate joined back (broadcast:
    part-count-sized). Division-free: qty*5*n < sum, exact decimals; the
    only double division is the final /7.0 on an exact sum."""
    li = fx.read_table(spark, sf_dir, "lineitem")
    p = fx.read_table(spark, sf_dir, "part").where(
        F.col("p_brand").isin(*_Q17_BRANDS)
    )
    flt = li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == p.p_partkey)
    avgs = flt.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast(_DEC)).alias("__qsum"),
        F.count(F.lit(1)).alias("__qn"),
    )
    return (
        flt.join(F.broadcast(avgs), "l_partkey")
        .where(
            F.col("l_quantity").cast(_DEC) * 5 * F.col("__qn")
            < F.col("__qsum")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double")
                / 7.0,
                6,
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_OLAP_Q17_ORACLE = f"""
WITH flt AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand IN {_Q17_BRANDS!r}
),
avgs AS (
  SELECT l_partkey, sum(CAST(l_quantity AS DECIMAL(28,6))) AS qsum,
         count(*) AS qn
  FROM flt GROUP BY l_partkey
)
SELECT
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / 7.0, 6)
    AS avg_yearly,
  count(*) AS n_items
FROM flt JOIN avgs USING (l_partkey)
WHERE CAST(l_quantity AS DECIMAL(28,6)) * 5 * qn < qsum
"""

_Q22_CUTOFF = "2001-01-01"


def _olap_dormant_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape (global sales opportunity): above-average-balance
    customers with NO recent orders, grouped by country code — a scalar
    aggregate broadcast (the positive-balance average, division-free) +
    a left-anti join against the recent-order keys. The country code is
    nationkey%10 (the synthetic schema has no phone column)."""
    c = fx.read_table(spark, sf_dir, "customer")
    recent = (
        fx.read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit(_Q22_CUTOFF).cast("timestamp"))
        .select("o_custkey")
    )
    pos = c.where(F.col("c_acctbal") > 0).agg(
        F.sum(F.col("c_acctbal").cast(_DEC)).alias("__sum"),
        F.count(F.lit(1)).alias("__n"),
    )
    return (
        c.crossJoin(F.broadcast(pos))
        .where(F.col("c_acctbal").cast(_DEC) * F.col("__n") > F.col("__sum"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy((F.col("c_nationkey") % 10).alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast(_DEC)).cast("double").alias(
                "totacctbal"
            ),
        )
    )


_OLAP_Q22_ORACLE = f"""
WITH pos AS (
  SELECT sum(CAST(c_acctbal AS DECIMAL(28,6))) AS s, count(*) AS n
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey % 10 AS cntrycode, count(*) AS numcust,
  CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(28,6))) AS DECIMAL(18,2))
    AS DOUBLE) AS totacctbal
FROM customer, pos
WHERE CAST(c_acctbal AS DECIMAL(28,6)) * n > s
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c_custkey
      AND o.o_orderdate >= TIMESTAMP '{_Q22_CUTOFF}'
  )
GROUP BY 1
"""


def _olap_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, hour-of-day): all four grouping sets in
    one Expand + aggregate pass (the full-lattice sibling of the ROLLUP
    gate). Hour comes from integer ms arithmetic so both engines derive
    it identically."""
    e = fx.read_events(spark, sf_dir)
    hours = e.withColumn(
        "hour_of_day", (F.expr("ts_ms div 3600000") % 24).cast("int")
    )
    return (
        hours.cube("event_type", "hour_of_day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(20,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("hour_of_day", F.lit(-1)).alias("hour_of_day"),
            "n",
            "sum_value",
        )
    )


_OLAP_CUBE_ORACLE = """
SELECT coalesce(event_type, 'ALL') AS event_type,
  CAST(coalesce(hour_of_day, -1) AS INT) AS hour_of_day,
  count(*) AS n,
  CAST(sum(CAST(value AS DECIMAL(20,2))) AS DOUBLE) AS sum_value
FROM (
  SELECT event_type, value,
    CAST((epoch_ms(ts) // 3600000) % 24 AS INT) AS hour_of_day
  FROM events
)
GROUP BY CUBE (event_type, hour_of_day)
"""


# ---------------------------------------------------------------------------
# W7/P12/A9: the classic analytic shapes a telemetry warehouse runs —
# per-series moving average (RANGE frame), long->wide pivot, retention
# cohorts. All single-keyed-shuffle plans.
# ---------------------------------------------------------------------------

_MAVG_RANGE_MS = 6 * 3600 * 1000  # trailing 6h per user


def _w_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-range moving average per series: RANGE BETWEEN frame on
    the keyed window — smoothing rates/temps is the standard dashboard
    transform. One hash shuffle on the series key; RANGE frames stay
    whole-stage where ROWS would mis-handle irregular sampling."""
    from pyspark.sql import Window

    e = fx.read_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_ms").asc())
        .rangeBetween(-_MAVG_RANGE_MS, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        "ts_ms",
        F.round(
            F.avg(F.col("value").cast("decimal(20,2)")).over(w).cast("double"),
            6,
        ).alias("mavg_6h"),
        F.count(F.lit(1)).over(w).alias("n_in_window"),
    )


_W_MOVING_AVG_ORACLE = f"""
SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
  round(CAST(avg(CAST(value AS DECIMAL(20,2))) OVER w AS DOUBLE), 6)
    AS mavg_6h,
  count(*) OVER w AS n_in_window
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
  RANGE BETWEEN {_MAVG_RANGE_MS} PRECEDING AND CURRENT ROW)
"""

_PIVOT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _p_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long -> wide: one row per user, one column per event type with
    its count — Spark's pivot over an EXPLICIT value list (never the
    discovery scan), which compiles to conditional aggregation: a single
    keyed shuffle, schema fixed at plan time."""
    e = fx.read_events(spark, sf_dir)
    return (
        e.groupBy("user_id")
        .pivot("event_type", _PIVOT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, _PIVOT_TYPES)
        .select(
            "user_id",
            *[F.col(t).alias(f"n_{t}") for t in _PIVOT_TYPES],
        )
    )


_PIVOT_ORACLE = f"""
SELECT user_id,
  {", ".join(
    f"CAST(count(*) FILTER (event_type = '{t}') AS BIGINT) AS n_{t}"
    for t in _PIVOT_TYPES
  )}
FROM events GROUP BY user_id
"""


def _a_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohorts: users grouped by first-seen day, distinct
    active users per (cohort_day, active_day). Two keyed aggregations +
    one equi-join back on user — no window at all, so the plan scales
    as plain shuffles."""
    e = fx.read_events(spark, sf_dir)
    day = F.date_format(F.timestamp_millis(F.col("ts_ms")), "yyyy-MM-dd")
    act = e.select("user_id", day.alias("active_day"))
    first = act.groupBy("user_id").agg(F.min("active_day").alias("cohort_day"))
    return (
        act.join(first, "user_id")
        .groupBy("cohort_day", "active_day")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


_RETENTION_ORACLE = """
WITH act AS (
  SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS active_day
  FROM events
),
first AS (SELECT user_id, min(active_day) AS cohort_day FROM act GROUP BY 1)
SELECT cohort_day, active_day, count(DISTINCT a.user_id) AS n_users
FROM act a JOIN first f USING (user_id)
GROUP BY cohort_day, active_day
"""


# ---------------------------------------------------------------------------
# W9/W10/W11: time-series regularization (operators/timeseries.py) —
# resample-to-grid + forward-fill, per-series gap/staleness report (the
# relational form of the reference's polling-status question,
# polling_status.py:26-39), rolling z-score anomaly flags with exact
# integer moment arithmetic.
# ---------------------------------------------------------------------------

_RS_STEP_MS = 6 * 3600 * 1000  # 6h grid
_RS_MAX_FILL = 4  # carry at most 24h
_GAP_THR_MS = 5 * 86_400_000  # 5-day staleness threshold
_Z_WINDOW_N = 20


def _w15_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate hierarchy: 1m buckets from the raw scan,
    10m and 1h tiers re-aggregated from the tier below (one corpus
    shuffle total; coarser tiers shuffle only aggregate rows)."""
    from panoptes_spark.operators.timeseries import multires_rollup

    e = fx.read_events(spark, sf_dir).select("ts_ms", "event_type", "value")
    return multires_rollup(e)


# the oracle computes every tier directly from the raw table — valid
# because the rollup carries only mergeable statistics, so tier-from-
# tier (engine) and tier-from-raw (oracle) are algebraically identical;
# decimal sums keep the double cast exact on both paths
_W15_TIER = """
SELECT '{name}' AS resolution,
       ts_ms - (ts_ms % {span}) AS bucket_ms,
       event_type AS key, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(20,2))) AS DOUBLE) AS sum_value,
       min(value) AS min_value, max(value) AS max_value
FROM pts GROUP BY 1, 2, 3
"""

_W15_MULTIRES_ORACLE = (
    "WITH pts AS (SELECT epoch_ms(ts) AS ts_ms, event_type, value"
    " FROM events)\n"
    + "\nUNION ALL\n".join(
        _W15_TIER.format(name=n, span=sp)
        for n, sp in (("1m", 60_000), ("10m", 600_000), ("1h", 3_600_000))
    )
)


def _w9_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.operators.timeseries import resample_ffill

    e = fx.read_events(spark, sf_dir).select("user_id", "ts_ms", "value")
    return resample_ffill(
        e, by=["user_id"], step_ms=_RS_STEP_MS, max_fill_steps=_RS_MAX_FILL
    )


_W9_RESAMPLE_ORACLE = f"""
WITH pts AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, value FROM events
),
obs AS (
  SELECT user_id, ts_ms - (ts_ms % {_RS_STEP_MS}) AS bucket_ms,
         max(value) AS obs_v, count(*) AS n_obs
  FROM pts GROUP BY 1, 2
),
bounds AS (
  SELECT user_id, min(bucket_ms) AS lo, max(bucket_ms) AS hi
  FROM obs GROUP BY 1
),
grid AS (
  SELECT user_id,
         unnest(generate_series(lo, hi, {_RS_STEP_MS})) AS bucket_ms
  FROM bounds
),
j AS (
  SELECT g.user_id, g.bucket_ms, o.obs_v, o.n_obs
  FROM grid g LEFT JOIN obs o USING (user_id, bucket_ms)
),
f AS (
  SELECT user_id, bucket_ms, obs_v, n_obs,
    last_value(obs_v IGNORE NULLS) OVER w AS last_v,
    last_value(CASE WHEN obs_v IS NOT NULL THEN bucket_ms END IGNORE NULLS)
      OVER w AS last_seen
  FROM j
  WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ms
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, bucket_ms,
  CASE WHEN bucket_ms - last_seen <= {_RS_MAX_FILL * _RS_STEP_MS}
       THEN last_v END AS value,
  CAST(coalesce(n_obs, 0) AS BIGINT) AS n_obs,
  obs_v IS NULL AS filled,
  CASE WHEN bucket_ms - last_seen <= {_RS_MAX_FILL * _RS_STEP_MS}
       THEN bucket_ms - last_seen END AS fill_age_ms
FROM f
"""


def _w10_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.operators.timeseries import gap_report

    e = fx.read_events(spark, sf_dir).select("user_id", "ts_ms")
    return gap_report(e, by=["user_id"], threshold_ms=_GAP_THR_MS)


_W10_GAP_ORACLE = f"""
WITH pts AS (SELECT user_id, epoch_ms(ts) AS ts_ms FROM events),
d AS (
  SELECT user_id, ts_ms,
    ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) AS delta
  FROM pts
),
per_key AS (
  SELECT user_id, count(*) AS n_obs,
    CAST(coalesce(sum(CASE WHEN delta > {_GAP_THR_MS} THEN 1 ELSE 0 END), 0)
      AS BIGINT) AS n_gaps,
    max(delta) AS max_gap_ms, max(ts_ms) AS last_seen_ms
  FROM d GROUP BY 1
),
now_row AS (SELECT max(ts_ms) AS now_ms FROM pts)
SELECT user_id, n_obs, n_gaps, max_gap_ms, last_seen_ms,
  (now_ms - last_seen_ms) > {_GAP_THR_MS} AS stale
FROM per_key, now_row
"""


def _w11_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.operators.timeseries import zscore_anomalies

    e = fx.read_events(spark, sf_dir).select("event_type", "ts_ms", "value")
    return zscore_anomalies(
        e, by=["event_type"], window_n=_Z_WINDOW_N, z_threshold=3.0
    )


# mirrors zscore_anomalies' integer algebra exactly: BIGINT window sums of
# the 1e-3-quantized values; HUGEINT for the cross-multiplied comparison
# (Spark side uses DECIMAL(38,0) — both are exact, only the boolean and
# the 6dp-rounded double cross the hash boundary).
_W11_ZSCORE_ORACLE = f"""
WITH pts AS (
  SELECT event_type, epoch_ms(ts) AS ts_ms, value,
    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS q
  FROM events
),
s AS (
  SELECT event_type, ts_ms, value, q,
    count(q) OVER w AS n, sum(q) OVER w AS s, sum(q * q) OVER w AS ss
  FROM pts
  WINDOW w AS (PARTITION BY event_type ORDER BY ts_ms, q
    ROWS BETWEEN {_Z_WINDOW_N} PRECEDING AND 1 PRECEDING)
)
SELECT event_type, ts_ms, value, CAST(coalesce(n, 0) AS BIGINT) AS n_baseline,
  CASE WHEN n >= 2 AND n * ss - s * s > 0 THEN
    round(CAST(n * q - s AS DOUBLE)
          / sqrt(CAST(n * ss - s * s AS DOUBLE) * n / (n - 1)), 6)
  END AS z,
  coalesce(n >= 2 AND n * ss - s * s > 0
    AND CAST(n * q - s AS HUGEINT) * (n * q - s) * (n - 1) * 1000000
        > CAST(9000000 AS HUGEINT) * n * (n * ss - s * s), FALSE) AS anomaly
FROM s
"""


# ---------------------------------------------------------------------------
# W12: first-touch funnel (operators/funnel.py) — ordered step-sequence
# conversion per user; one keyed aggregate+join per step, no stream-wide
# window or per-key event buffering.
# ---------------------------------------------------------------------------

_FUNNEL_STEPS = ["view", "click", "purchase"]
_FUNNEL_WITHIN_MS = 7 * 86_400_000  # 7-day conversion window per step


def _w12_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.operators.funnel import funnel

    e = fx.read_events(spark, sf_dir).select("user_id", "event_type", "ts_ms")
    return funnel(
        e, by=["user_id"], steps=_FUNNEL_STEPS, within_ms=_FUNNEL_WITHIN_MS
    )


_W12_FUNNEL_ORACLE = f"""
WITH pts AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_type FROM events
),
s0 AS (
  SELECT user_id, min(ts_ms) AS step0_ts FROM pts
  WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY 1
),
s1 AS (
  SELECT p.user_id, min(p.ts_ms) AS step1_ts
  FROM pts p JOIN s0 USING (user_id)
  WHERE p.event_type = '{_FUNNEL_STEPS[1]}' AND p.ts_ms > step0_ts
    AND p.ts_ms <= step0_ts + {_FUNNEL_WITHIN_MS}
  GROUP BY 1
),
s2 AS (
  SELECT p.user_id, min(p.ts_ms) AS step2_ts
  FROM pts p JOIN s1 USING (user_id)
  WHERE p.event_type = '{_FUNNEL_STEPS[2]}' AND p.ts_ms > step1_ts
    AND p.ts_ms <= step1_ts + {_FUNNEL_WITHIN_MS}
  GROUP BY 1
)
SELECT s0.user_id, step0_ts, step1_ts, step2_ts
FROM s0 LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
"""


# ---------------------------------------------------------------------------
# W13: next-event transition matrix — first-order Markov counts and
# probabilities over each user's ordered event sequence: one keyed lag
# window + one pair-keyed aggregate; probability is the only division
# (bigint/bigint -> identical IEEE double, rounded 6dp).
# ---------------------------------------------------------------------------


def _w13_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = fx.read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_ms").asc(), F.col("event_id").asc()
    )
    pairs = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_prev = pairs.groupBy("prev_type").agg(F.sum("n").alias("__tot"))
    return pairs.join(F.broadcast(per_prev), "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.col("__tot"), 6).alias("p"),
    )


_W13_TRANSITIONS_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
    lag(event_type) OVER (PARTITION BY user_id
      ORDER BY epoch_ms(ts), event_id) AS prev_type
  FROM events
),
pairs AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT prev_type, sum(n) AS t FROM pairs GROUP BY 1)
SELECT prev_type, next_type, n,
  round(CAST(n AS DOUBLE) / CAST(t AS DOUBLE), 6) AS p
FROM pairs JOIN tot USING (prev_type)
"""


# ---------------------------------------------------------------------------
# W14: rolling 7-day distinct engagement (the WAU/MAU shape) — sliding
# distinct counts WITHOUT sliding-window distinct state: each (day, user)
# membership fans out to the <=7 target days it supports (bounded
# explode), then one count_distinct per target day. Corpus-sized state
# never slides; fan-out is window-length-bounded.
# ---------------------------------------------------------------------------

_ENG_WINDOW_DAYS = 7
_DAY_MS = 86_400_000


def _w14_rolling_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fx.read_events(spark, sf_dir)
    du = e.select(
        F.expr(f"ts_ms div {_DAY_MS}").alias("day"), "user_id"
    ).distinct()
    max_day = du.agg(F.max("day").alias("__max_day"))
    return (
        du.withColumn(
            "target_day",
            F.explode(
                F.sequence(F.col("day"), F.col("day") + (_ENG_WINDOW_DAYS - 1))
            ),
        )
        .crossJoin(F.broadcast(max_day))
        .where(F.col("target_day") <= F.col("__max_day"))
        .groupBy("target_day")
        .agg(
            F.count_distinct("user_id").alias("active_users_7d"),
            F.count_distinct(
                F.when(F.col("day") == F.col("target_day"), F.col("user_id"))
            ).alias("active_users_1d"),
        )
    )


_W14_ENGAGEMENT_ORACLE = f"""
WITH du AS (
  SELECT DISTINCT epoch_ms(ts) // {_DAY_MS} AS day, user_id FROM events
),
md AS (SELECT max(day) AS max_day FROM du),
r AS (
  SELECT user_id, day,
    unnest(generate_series(day, day + {_ENG_WINDOW_DAYS - 1})) AS target_day
  FROM du
)
SELECT target_day,
  count(DISTINCT user_id) AS active_users_7d,
  count(DISTINCT CASE WHEN day = target_day THEN user_id END)
    AS active_users_1d
FROM r, md WHERE target_day <= max_day GROUP BY target_day
"""


# ---------------------------------------------------------------------------
# A20: Q21 shape — the double-correlated EXISTS / NOT-EXISTS (suppliers
# who were the ONLY late shipper on a multi-supplier order) decorrelated
# into per-(order,supplier) then per-order aggregates joined back; no
# correlated re-scan of lineitem.
# ---------------------------------------------------------------------------

_LATE_DAYS = 60


def _olap_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = fx.read_table(spark, sf_dir, "lineitem")
    o = fx.read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    s = fx.read_table(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {_LATE_DAYS} DAYS"
    )
    from pyspark.sql import Window

    per_os = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("late"))
    )
    # per-order counts as a window over the SAME l_orderkey clustering
    # the join+agg already established: one pass, no self-join that
    # would re-plan (and re-run) the lineitem⋈orders subtree twice.
    # The orderBy + explicit full frame keeps the count whole-partition
    # (not running) while printing the partitioned 3-group Window shape
    # the plan audit asserts on.
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_suppkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        per_os.withColumns(
            {
                "__n_supp": F.count(F.lit(1)).over(w),
                "__n_late": F.count_if("late").over(w),
            }
        )
        .where(
            F.col("late") & (F.col("__n_supp") >= 2) & (F.col("__n_late") == 1)
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_suppkey").asc())
        .limit(20)
    )


_OLAP_Q21_ORACLE = f"""
WITH j AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL {_LATE_DAYS} DAY AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
per_os AS (
  SELECT l_orderkey, l_suppkey, max(late) AS late FROM j GROUP BY 1, 2
),
per_o AS (
  SELECT l_orderkey, count(*) AS n_supp, count(*) FILTER (late) AS n_late
  FROM per_os GROUP BY 1
)
SELECT s_suppkey, s_name, count(*) AS numwait
FROM per_os JOIN per_o USING (l_orderkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE late AND n_supp >= 2 AND n_late = 1
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey ASC LIMIT 20
"""


# ---------------------------------------------------------------------------
# W5b: SCD2 history — the temporal materialization of the reconcile
# family: every distinct per-identity state with its validity interval,
# instead of only the latest winner (manager.py:109-135 keeps winners;
# a warehouse keeps the history).
# ---------------------------------------------------------------------------


def _scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.operators.reconcile import scd2_history

    e = fx.read_events(spark, sf_dir)
    snaps = e.select(
        "user_id", "event_id", "ts_ms", F.col("event_type").alias("status")
    )
    return scd2_history(
        snaps,
        identity_cols=["user_id"],
        attr_cols=["status"],
        ts_col="ts_ms",
        tiebreak_cols=["event_id"],
    ).select("user_id", "status", "valid_from", "valid_to", "is_current")


_SCD2_ORACLE = """
WITH s AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type AS status
  FROM events
),
m AS (
  SELECT *, lag(status) OVER w AS prev, lag(ts_ms) OVER w AS prev_ts
  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
),
ch AS (
  SELECT user_id, event_id, ts_ms, status FROM m
  WHERE prev_ts IS NULL OR status IS DISTINCT FROM prev
)
SELECT user_id, status, ts_ms AS valid_from,
  lead(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id)
    AS valid_to,
  lead(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) IS NULL
    AS is_current
FROM ch
"""


# ---------------------------------------------------------------------------
# P9/J7: relational points -> nested metrics-group wire shape -> flatten
# round-trip. Exercises group assembly (collect_list -> sorted arrays),
# the embedded-resource struct, and the flatten projection.
# ---------------------------------------------------------------------------


def _event_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested metrics-groups derived from the events table (shared by the
    P9 roundtrip and U1 union gates; content is a pure function of
    (resource, event_type, day) so set overlaps are content-identical)."""
    e = fx.read_events(spark, sf_dir)
    day = F.expr("date_trunc('DAY', timestamp_millis(ts_ms))")
    base = e.groupBy(
        F.concat(F.lit("user-"), F.col("user_id").cast("string")).alias(
            "resource_id"
        ),
        F.col("event_type"),
        day.alias("day"),
    ).agg(
        F.count("*").cast("double").alias("n_events"),
        F.sum(F.col("value").cast("decimal(20,2)")).cast("double").alias(
            "sum_value"
        ),
    )
    groups = base.select(
        F.struct(
            F.lit("site1").alias("resource_site"),
            F.lit("system").alias("resource_class"),
            F.lit("host").alias("resource_subclass"),
            F.lit("generic").alias("resource_type"),
            F.col("resource_id").alias("resource_id"),
            F.concat(F.col("resource_id"), F.lit(".net")).alias(
                "resource_endpoint"
            ),
            F.lit(0.0).alias("resource_creation_timestamp"),
            F.lit("events").alias("resource_plugin"),
            F.expr("map('make', 'Synth')").alias("resource_metadata"),
        ).alias("resource"),
        F.lit("events").alias("metrics_group_type"),
        F.lit(86400).cast("long").alias("metrics_group_interval"),
        F.array(
            F.struct(
                F.lit("n_events").alias("metric_name"),
                F.col("n_events").alias("metric_value"),
                F.lit("gauge").alias("metric_type"),
                F.lit(0.0).alias("metric_creation_timestamp"),
            ),
            F.struct(
                F.lit("sum_value").alias("metric_name"),
                F.col("sum_value").alias("metric_value"),
                F.lit("gauge").alias("metric_type"),
                F.lit(0.0).alias("metric_creation_timestamp"),
            ),
        ).alias("metrics"),
        F.array(
            F.struct(
                F.lit("event_type").alias("dimension_name"),
                F.col("event_type").alias("dimension_value"),
            ),
            F.struct(
                F.lit("day").alias("dimension_name"),
                F.date_format("day", "yyyy-MM-dd").alias("dimension_value"),
            ),
        ).alias("dimensions"),
    )
    return groups


def _flatten_event_groups(groups: DataFrame) -> DataFrame:
    from panoptes_spark.model import flatten_metrics_groups

    flat = flatten_metrics_groups(groups)
    return flat.select(
        "resource_id",
        "metrics_group_type",
        F.expr("dimensions['event_type']").alias("event_type"),
        F.expr("dimensions['day']").alias("day"),
        "metric_name",
        "metric_value",
        "metric_type",
    )


def _p9_nested_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _flatten_event_groups(_event_groups(spark, sf_dir))


def _u1_groupset_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 — set union with content dedup (metrics.py:429-437): two
    overlapping day-range slices; the overlap (days 10-20) must dedup to
    one copy or the hash diverges from the oracle's plain full set."""
    from panoptes_spark.model import union_metrics_group_sets

    # both slices filter the same aggregate — persist so the events
    # aggregation runs once (Spark does not reuse the exchange across
    # the union's two branches)
    g = _event_groups(spark, sf_dir).persist()
    # dimensions = [event_type, day]; [1] is 0-based SQL array indexing
    dom = F.dayofmonth(F.expr("to_date(dimensions[1].dimension_value)"))
    a = g.where(dom <= 20)
    b = g.where(dom >= 10)
    return _flatten_event_groups(union_metrics_group_sets(a, b))


_P9_ORACLE = """
WITH base AS (
  SELECT 'user-' || CAST(user_id AS VARCHAR) AS resource_id,
         event_type,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(count(*) AS DOUBLE) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(20,2))) AS DOUBLE) AS sum_value
  FROM events GROUP BY 1, 2, 3
)
SELECT resource_id, 'events' AS metrics_group_type, event_type, day,
       'n_events' AS metric_name, n_events AS metric_value,
       'gauge' AS metric_type
FROM base
UNION ALL
SELECT resource_id, 'events', event_type, day,
       'sum_value', sum_value, 'gauge'
FROM base
"""

# U1: the two slices (day<=20, day>=10) cover every day, and group content
# is a pure function of the group key — so union+content-dedup must equal
# the plain full set; leaving overlap duplicates in breaks the hash.
_U1_ORACLE = _P9_ORACLE


def _p8_line_protocol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 — the full line-protocol rendering path, oracle-checked: tag
    sort-by-key, resource-colliding dimension drop, `([,=\\s])` value
    escaping, unsupported-metric-type filter, `{!r}`-style numeric
    rendering, measurement sanitization (consumer.py:84-169)."""
    from panoptes_spark.operators.lineprotocol import to_line_protocol

    c = fx.read_table(spark, sf_dir, "customer")
    groups = c.select(
        F.struct(
            F.col("c_mktsegment").alias("resource_site"),
            F.lit("network").alias("resource_class"),
            F.lit("switch").alias("resource_subclass"),
            F.lit("generic").alias("resource_type"),
            F.concat(F.lit("cust-"), F.col("c_custkey").cast("string")).alias(
                "resource_id"
            ),
            # space in the endpoint exercises tag-value escaping
            F.concat(
                F.lit("host "), F.col("c_custkey").cast("string"), F.lit(".net")
            ).alias("resource_endpoint"),
            F.lit(0.0).alias("resource_creation_timestamp"),
            F.lit("tpch").alias("resource_plugin"),
            F.expr("map('make', 'Synth')").alias("resource_metadata"),
        ).alias("resource"),
        F.lit("interface|metrics").alias("metrics_group_type"),  # '|' -> '_'
        F.lit(60).cast("long").alias("metrics_group_interval"),
        (F.col("c_custkey") % 1000 + 1700000000)
        .cast("double")
        .alias("metrics_group_creation_timestamp"),
        F.array(
            F.struct(
                F.lit("temp").alias("metric_name"),
                ((F.col("c_custkey") % 40) + F.lit(0.5)).alias("metric_value"),
                F.lit("gauge").alias("metric_type"),
                F.lit(0.0).alias("metric_creation_timestamp"),
            ),
            F.struct(
                F.lit("bits_in").alias("metric_name"),
                ((F.col("c_custkey") * 100) % 100000)
                .cast("double")
                .alias("metric_value"),
                F.lit("counter").alias("metric_type"),
                F.lit(0.0).alias("metric_creation_timestamp"),
            ),
            F.struct(  # unsupported type: must be filtered out
                F.lit("dropme").alias("metric_name"),
                F.lit(1.0).alias("metric_value"),
                F.lit("histogram").alias("metric_type"),
                F.lit(0.0).alias("metric_creation_timestamp"),
            ),
            F.struct(  # DSL-declared float type, integral value: repr '5.0'
                F.lit("load_avg").alias("metric_name"),
                (F.col("c_custkey") % 7).cast("double").alias("metric_value"),
                F.lit("gauge").alias("metric_type"),
                F.lit(0.0).alias("metric_creation_timestamp"),
            ),
        ).alias("metrics"),
        F.array(
            F.struct(  # comma in value exercises escaping
                F.lit("iface").alias("dimension_name"),
                F.concat(
                    F.lit("eth"),
                    (F.col("c_custkey") % 4).cast("string"),
                    F.lit(",0"),
                ).alias("dimension_value"),
            ),
            F.struct(  # space in value
                F.lit("rack").alias("dimension_name"),
                F.concat(
                    F.lit("r "), (F.col("c_custkey") % 8).cast("string")
                ).alias("dimension_value"),
            ),
            F.struct(  # collides with a resource tag key: must be dropped
                F.lit("resource_class").alias("dimension_name"),
                F.lit("OVERRIDE-ME").alias("dimension_value"),
            ),
        ).alias("dimensions"),
    )
    return to_line_protocol(groups, float_typed={"load_avg", "temp"}).select(
        F.col("resource.resource_id").alias("resource_id"), "line"
    )


# replacement '\\\1' (no escaping inside standard SQL literals): regex-level
# \\ = literal backslash, \1 = captured char — same output as Spark's
# '\\\\$1'. Sorted tag-key order is hardcoded: iface < rack < resource_class
# < resource_endpoint < resource_site < resource_subclass < resource_type.
_P8_ORACLE = r"""
SELECT 'cust-' || CAST(c_custkey AS VARCHAR) AS resource_id,
  'interface_metrics,'
  || 'iface=' || regexp_replace('eth' || CAST(c_custkey % 4 AS VARCHAR) || ',0',
                                '([,=\s])', '\\\1', 'g')
  || ',rack=' || regexp_replace('r ' || CAST(c_custkey % 8 AS VARCHAR),
                                '([,=\s])', '\\\1', 'g')
  || ',resource_class=network'
  || ',resource_endpoint=' || regexp_replace('host ' || CAST(c_custkey AS VARCHAR) || '.net',
                                             '([,=\s])', '\\\1', 'g')
  || ',resource_site=' || c_mktsegment
  || ',resource_subclass=switch,resource_type=generic'
  || ' bits_in__counter=' || CAST(CAST((c_custkey * 100) % 100000 AS BIGINT) AS VARCHAR)
  || ',load_avg__gauge=' || CAST(CAST(c_custkey % 7 AS BIGINT) AS VARCHAR) || '.0'
  || ',temp__gauge=' || CAST(c_custkey % 40 AS VARCHAR) || '.5'
  || ' ' || CAST(CAST(c_custkey % 1000 + 1700000000 AS BIGINT) AS VARCHAR) AS line
FROM customer
"""


def _s5_namespace_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 — KV namespace scan with prefix pushdown
    (key_value_store.py:170-193 find_keys)."""
    from panoptes_spark.sources.stores import scan_namespace

    c = fx.read_table(spark, sf_dir, "customer")
    store = c.select(
        F.concat(
            F.lit("p"),
            (F.col("c_custkey") % 4).cast("string"),
            F.lit(":resource:"),
            F.col("c_custkey").cast("string"),
        ).alias("key"),
        F.lower("c_mktsegment").alias("value"),
    )
    return scan_namespace(store, "p1:")


_S5_ORACLE = """
SELECT 'p' || CAST(c_custkey % 4 AS VARCHAR) || ':resource:'
         || CAST(c_custkey AS VARCHAR) AS key,
       lower(c_mktsegment) AS value
FROM customer WHERE c_custkey % 4 = 1
"""


# ---------------------------------------------------------------------------
# F-family scalar functions over derived inputs (F2 C->F, F6 MAC codec,
# F7 netmask->CIDR, F9 influx sanitize/escape)
# ---------------------------------------------------------------------------

_MASKS = ["255.0.0.0", "255.255.0.0", "255.255.255.0", "255.255.255.255",
          "255.240.0.0"]


def _f_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.functions import scalar as fs

    p = fx.read_table(spark, sf_dir, "part")
    masks = F.array(*[F.lit(m) for m in _MASKS])
    df = p.select(
        "p_partkey",
        ((F.col("p_partkey") % 120) - 20).cast("double").alias("temp_c"),
        F.element_at(masks, (F.col("p_partkey") % 5 + 1).cast("int")).alias(
            "netmask"
        ),
        F.concat_ws(
            ".",
            (F.col("p_partkey") % 256).cast("string"),
            (F.col("p_partkey") * 3 % 256).cast("string"),
            (F.col("p_partkey") * 7 % 256).cast("string"),
            (F.col("p_partkey") * 11 % 256).cast("string"),
            (F.col("p_partkey") * 13 % 256).cast("string"),
            (F.col("p_partkey") * 17 % 256).cast("string"),
        ).alias("dotted"),
        "p_type",
        "p_name",
    )
    return df.select(
        "p_partkey",
        fs.celsius_to_fahrenheit(F.col("temp_c")).alias("temp_f"),
        fs.netmask_to_cidr("netmask").alias("cidr"),
        fs.dotted_decimal_to_mac("dotted").alias("mac"),
        fs.sanitize_measurement(F.col("p_type")).alias("measurement"),
        fs.escape_tag_value(F.col("p_name")).alias("tag_value"),
    )


_F_FUNCTIONS_ORACLE = f"""
WITH base AS (
  SELECT p_partkey,
    CAST((p_partkey % 120) - 20 AS DOUBLE) AS temp_c,
    (['255.0.0.0', '255.255.0.0', '255.255.255.0', '255.255.255.255',
      '255.240.0.0'])[(p_partkey % 5) + 1] AS netmask,
    CAST(p_partkey % 256 AS VARCHAR) || '.' ||
    CAST(p_partkey * 3 % 256 AS VARCHAR) || '.' ||
    CAST(p_partkey * 7 % 256 AS VARCHAR) || '.' ||
    CAST(p_partkey * 11 % 256 AS VARCHAR) || '.' ||
    CAST(p_partkey * 13 % 256 AS VARCHAR) || '.' ||
    CAST(p_partkey * 17 % 256 AS VARCHAR) AS dotted,
    p_type, p_name
  FROM part
)
SELECT p_partkey,
  round(temp_c * 1.8 + 32, 2) AS temp_f,
  CASE netmask WHEN '255.0.0.0' THEN 8 WHEN '255.255.0.0' THEN 16
       WHEN '255.255.255.0' THEN 24 WHEN '255.255.255.255' THEN 32
       WHEN '255.240.0.0' THEN 12 END AS cidr,
  array_to_string(list_transform(string_split(dotted, '.'),
      o -> lpad(upper(to_hex(o::INT)), 2, '0')), ':') AS mac,
  regexp_replace(p_type, '[^0-9a-zA-Z_]+', '_', 'g') AS measurement,
  regexp_replace(p_name, '([,=\\s])', '\\\\\\1', 'g') AS tag_value
FROM base
"""


# ---------------------------------------------------------------------------
# W6: uniform scheduling splay (celery_manager.py:224-258) — exact unsigned
# murmur3_x86_32 splay + resume-from-checkpoint semantics. The oracle
# recomputes the identical hash via a DuckDB chained-CTE murmur3 twin
# (operators/schedule.mmh3_cte_chain), so splay values are engine-exact.
# ---------------------------------------------------------------------------

_W6_NOW = 1700000000.0


def _w6_uniform_splay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.operators.schedule import uniform_schedule

    flat = fx.resources_flat(spark, sf_dir)
    ck = F.col("resource_creation_timestamp").cast("bigint")
    base = flat.select(
        "resource_id",
        F.concat_ws(":", "resource_plugin", "resource_id").alias("schedule_name"),
        (F.lit(15) + ck % 90).alias("interval_s"),
        # ck%3==1: previous scheduler checkpoint still inside the window ->
        # resume at last+interval; ck%3==2: stale checkpoint -> re-splay;
        # ck%3==0: never scheduled (NULL) -> splay.
        F.when(ck % 3 == 1, F.lit(_W6_NOW) - (F.lit(15) + ck % 90) + 7)
        .when(ck % 3 == 2, F.lit(_W6_NOW) - 2 * (F.lit(15) + ck % 90))
        .cast("double")
        .alias("last_uniformly_scheduled_at"),
    )
    return uniform_schedule(base, _W6_NOW).select(
        "resource_id", "interval_s", "splay_s", "resumed", "run_at"
    )


def _w6_oracle() -> str:
    from panoptes_spark.operators.schedule import mmh3_cte_chain

    resumed = (
        "last_s IS NOT NULL AND last_s + interval_s >= 1700000000.0 "
        "AND 1700000000.0 > last_s"
    )
    return f"""
WITH {fx.RESOURCES_CTE},
base AS (
  SELECT resource_id,
    resource_plugin || ':' || resource_id AS schedule_name,
    15 + CAST(resource_creation_timestamp AS BIGINT) % 90 AS interval_s,
    CASE WHEN CAST(resource_creation_timestamp AS BIGINT) % 3 = 1
           THEN 1700000000.0 - (15 + CAST(resource_creation_timestamp AS BIGINT) % 90) + 7
         WHEN CAST(resource_creation_timestamp AS BIGINT) % 3 = 2
           THEN 1700000000.0 - 2 * (15 + CAST(resource_creation_timestamp AS BIGINT) % 90)
    END AS last_s
  FROM resources_flat
),
{mmh3_cte_chain('base', 'schedule_name', 'duckdb')}
SELECT resource_id, interval_s,
  __mm_hash % LEAST(interval_s, 60) AS splay_s,
  COALESCE({resumed}, FALSE) AS resumed,
  CASE WHEN {resumed} THEN last_s + interval_s
       ELSE 1700000000.0 + CAST(__mm_hash % LEAST(interval_s, 60) AS DOUBLE)
  END AS run_at
FROM mmh3
"""


# ---------------------------------------------------------------------------
# F14: hostname/IP helpers — ip version classification, unknown-hostname
# fallback, and DNS resolution as a broadcast resolver-snapshot join
# (helpers.py:99-178).
# ---------------------------------------------------------------------------

def _f14_ip_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.functions.scalar import ip_version, unknown_hostname
    from panoptes_spark.operators.resolve import get_hostnames

    flat = fx.resources_flat(spark, sf_dir)
    ck = F.col("resource_creation_timestamp").cast("bigint")
    v4 = F.concat_ws(
        ".",
        (ck % 256).cast("string"),
        (ck * 3 % 256).cast("string"),
        (ck * 7 % 256).cast("string"),
        (ck * 11 % 256).cast("string"),
    )
    probe = (
        F.when(ck % 4 == 0, v4)
        .when(ck % 4 == 1, F.concat(F.lit("fe80::"), F.lower(F.hex(ck % 65536))))
        .when(ck % 4 == 2, F.col("resource_endpoint"))
        .otherwise(F.concat(F.lit("999.1.2."), (ck % 10).cast("string")))
    )
    base = flat.select(
        "resource_id",
        probe.alias("probe"),
        v4.alias("ip"),
        (ck % 3).alias("__m3"),
    )
    # resolver snapshot: every third resource's v4 appears in the table;
    # synthesized v4s collide across resources, so pick the min hostname
    # per address to keep the fixture deterministic on both engines
    dns = (
        base.where(F.col("__m3") == 0)
        .groupBy(F.col("ip").alias("address"))
        .agg(
            F.min(
                F.concat(F.col("resource_id"), F.lit(".example.com"))
            ).alias("hostname")
        )
    )
    out = get_hostnames(base, dns, ip_col="ip")
    return out.select(
        "resource_id",
        "probe",
        ip_version("probe").alias("ipv"),
        unknown_hostname("probe").alias("unknown_name"),
        "resolved_hostname",
    )


_IPV4_SQL_RE = (
    r"^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}"
    r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$"
)
_IPV6_FULL_SQL_RE = r"^[0-9A-Fa-f]{1,4}(:[0-9A-Fa-f]{1,4}){7}$"
_IPV6_COMP_SQL_RE = (
    r"^(([0-9A-Fa-f]{1,4})(:[0-9A-Fa-f]{1,4}){0,6})?"
    r"::(([0-9A-Fa-f]{1,4})(:[0-9A-Fa-f]{1,4}){0,6})?$"
)

_F14_ORACLE = f"""
WITH {fx.RESOURCES_CTE},
keyed AS (
  SELECT resource_id, resource_endpoint,
    CAST(resource_creation_timestamp AS BIGINT) AS ck
  FROM resources_flat
),
base AS (
  SELECT resource_id,
    CASE WHEN ck % 4 = 0 THEN
           CAST(ck % 256 AS VARCHAR) || '.' || CAST(ck * 3 % 256 AS VARCHAR) ||
           '.' || CAST(ck * 7 % 256 AS VARCHAR) || '.' ||
           CAST(ck * 11 % 256 AS VARCHAR)
         WHEN ck % 4 = 1 THEN 'fe80::' || lower(to_hex(ck % 65536))
         WHEN ck % 4 = 2 THEN resource_endpoint
         ELSE '999.1.2.' || CAST(ck % 10 AS VARCHAR)
    END AS probe,
    CAST(ck % 256 AS VARCHAR) || '.' || CAST(ck * 3 % 256 AS VARCHAR) || '.' ||
    CAST(ck * 7 % 256 AS VARCHAR) || '.' || CAST(ck * 11 % 256 AS VARCHAR) AS ip,
    ck % 3 AS m3
  FROM keyed
),
dns AS (
  SELECT ip AS address, min(resource_id || '.example.com') AS hostname
  FROM base WHERE m3 = 0 GROUP BY ip
)
SELECT b.resource_id, b.probe,
  CASE WHEN regexp_matches(b.probe, '{_IPV4_SQL_RE}') THEN 4
       WHEN regexp_matches(b.probe, '{_IPV6_FULL_SQL_RE}')
         OR (regexp_matches(b.probe, '{_IPV6_COMP_SQL_RE}')
             AND length(b.probe) - length(replace(b.probe, ':', '')) <= 7)
         THEN 6
  END AS ipv,
  'unknown-' || regexp_replace(b.probe, '[.:]', '-', 'g') AS unknown_name,
  CASE WHEN d.hostname IS NULL OR d.hostname = ''
            OR d.hostname LIKE 'UNKNOWN%'
       THEN 'unknown-' || regexp_replace(b.ip, '[.:]', '-', 'g')
       ELSE d.hostname
  END AS resolved_hostname
FROM base b LEFT JOIN dns d ON b.ip = d.address
"""


# ---------------------------------------------------------------------------
# Driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship pipeline: DSL-filtered resources -> broadcast enrichment of
    the metric stream -> rate transform -> per-(site, series-type) rollup.
    One pass through every core layer of the engine."""
    from panoptes_spark.session import tune_runtime

    tune_runtime(spark)
    rf = ResourceFilter(
        'resource_class = "network" AND resource_metadata.make NOT LIKE "Generic%"'
    )
    res = fx.resources(spark, SF_SMOKE).where(F.expr(rf.to_spark_sql()))
    # resource_id 'Customer#...' -> the user-keyed id used by the stream
    res_dim = res.select(
        F.concat(
            F.lit("user-"), F.col("resource_creation_timestamp").cast("long").cast("string")
        ).alias("resource_id"),
        "resource_site",
        F.element_at("resource_metadata", F.lit("make")).alias("make"),
    )
    points = fx.metric_points_from_events(spark, SF_SMOKE)
    rates = rate_transform(
        points, ["resource_id", "metrics_group_type"], interval_sec=_RATE_INTERVAL
    )
    enriched = rates.join(F.broadcast(res_dim), "resource_id", "inner")
    return (
        enriched.groupBy("resource_site", "metrics_group_type", "make")
        .agg(
            F.count("*").alias("n_rates"),
            F.round(F.avg("confidence"), 4).alias("avg_confidence"),
            F.max("rate").alias("max_rate"),
        )
    )


# ---------------------------------------------------------------------------
# S14: vendor device-metrics enrichment builder (juniper family) — the
# walk -> oids-map/metrics-groups generator of
# plugin_enrichment_juniper_device_metrics.py:233-458, run end-to-end on a
# synthetic entity walk derived from the supplier table and projected to
# driver-checkable scalars THROUGH the emitted enrichment JSON. Fidelity
# against the reference's own six goldens lives in
# tests/test_golden_device_enrichment.py.
# ---------------------------------------------------------------------------


def _s14_device_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panoptes_spark.operators.device_enrichment import (
        JNX_CPU_5MIN,
        JNX_DESCR,
        JNX_MEMORY,
        JNX_STATE,
        JNX_TEMP,
        juniper_device_enrichment,
    )

    sup = fx.read_table(spark, sf_dir, "supplier")
    k = F.col("k")
    base = sup.select(
        F.concat(
            F.lit("dev-"), (F.col("s_suppkey") % 20).cast("string")
        ).alias("device_id"),
        F.concat(
            F.expr("s_suppkey div 20").cast("string"), F.lit(".0")
        ).alias("idx"),
        F.col("s_suppkey").alias("k"),
    )
    name = (
        F.when(k % 7 == 0, F.concat(F.lit("Fan Tray "), F.col("idx")))
        .when(k % 7 == 1, F.concat(F.lit("PEM "), (k % 4).cast("string")))
        .when(
            k % 7 == 2,
            F.concat(F.lit("Routing Engine "), (k % 2).cast("string")),
        )
        .when(k % 7 == 3, F.concat(F.lit("FPC: slot "), F.col("idx")))
        .when(k % 7 == 4, F.lit("midplane"))
        .when(k % 7 == 5, F.concat(F.lit("PSM "), (k % 10).cast("string")))
        .otherwise(
            F.concat(F.lit("Power Supply "), (k % 10).cast("string"))
        )
    )
    oid = lambda tbl: F.concat(  # noqa: E731
        F.lit(tbl.lstrip(".") + "."), F.col("idx")
    )
    rows = F.array(
        F.struct(oid(JNX_DESCR).alias("oid"), name.alias("value")),
        F.struct(
            oid(JNX_TEMP).alias("oid"),
            ((k * 37) % 2000).cast("string").alias("value"),
        ),
        F.struct(
            oid(JNX_CPU_5MIN).alias("oid"),
            (k % 100).cast("string").alias("value"),
        ),
        F.struct(
            oid(JNX_MEMORY).alias("oid"),
            ((k % 5) * 512).cast("string").alias("value"),
        ),
        F.struct(
            oid(JNX_STATE).alias("oid"),
            F.when(k % 3 == 0, F.lit("6")).otherwise(F.lit("2")).alias("value"),
        ),
    )
    walk = base.select(
        "device_id", F.explode(rows).alias("r")
    ).select("device_id", "r.oid", "r.value")
    devices = walk.select("device_id").distinct().withColumn(
        "model", F.lit("MX960-test")
    )
    enr = juniper_device_enrichment(
        spark, walk, devices, polling_frequency=300, include_disk=False
    )

    def vals(tbl: str) -> F.Column:
        return F.size(
            F.from_json(
                F.get_json_object(
                    "enrichment", f"$.oids.{tbl}.values"
                ),
                "map<string,string>",
            )
        ).cast("int")

    return enr.select(
        "device_id",
        F.get_json_object("enrichment", "$.oids.cpu_util.oid").alias(
            "cpu_util_oid"
        ),
        F.expr(
            "cast(json_array_length(get_json_object(enrichment,"
            " '$.metrics_groups')) as int)"
        ).alias("n_groups"),
        vals("fans").alias("n_fans"),
        vals("power_modules").alias("n_power"),
        vals("cpu_name").alias("n_cpu"),
        vals("temp_sensor_name").alias("n_temp"),
        vals("memory_total").alias("n_memory"),
        F.get_json_object(
            "enrichment", "$.oids.power_units_total.values.PEM"
        ).cast("int").alias("pem_total"),
        F.get_json_object(
            "enrichment", "$.oids.power_units_total.values.PSM"
        ).cast("int").alias("psm_total"),
    ).orderBy("device_id")


_S14_ORACLE = """
WITH base AS (
  SELECT 'dev-' || (s_suppkey % 20) AS device_id,
         s_suppkey AS k,
         (s_suppkey * 37) % 2000 AS temp,
         (s_suppkey % 5) * 512 AS mem
  FROM supplier
),
agg AS (
  SELECT device_id,
    COUNT(CASE WHEN k % 7 = 0 THEN 1 END) AS n_fans,
    COUNT(CASE WHEN k % 7 IN (1, 5, 6) THEN 1 END) AS n_power,
    COUNT(CASE WHEN k % 7 IN (2, 3) THEN 1 END) AS n_cpu,
    COUNT(CASE WHEN temp > 0 AND temp < 1371 THEN 1 END) AS n_temp,
    COUNT(CASE WHEN mem <> 0 THEN 1 END) AS n_memory,
    COUNT(CASE WHEN k % 7 IN (1, 6) THEN 1 END) AS pem_cnt,
    COUNT(CASE WHEN k % 7 = 5 THEN 1 END) AS psm_cnt
  FROM base GROUP BY device_id
)
SELECT device_id,
  '.1.3.6.1.4.1.2636.3.1.13.1.24' AS cpu_util_oid,
  CAST(3 + (CASE WHEN n_power > 0 THEN 1 ELSE 0 END)
         + (CASE WHEN n_fans > 0 THEN 1 ELSE 0 END) AS INT) AS n_groups,
  CAST(n_fans AS INT) AS n_fans,
  CAST(n_power AS INT) AS n_power,
  CAST(n_cpu AS INT) AS n_cpu,
  CAST(n_temp AS INT) AS n_temp,
  CAST(n_memory AS INT) AS n_memory,
  CASE WHEN pem_cnt > 0 THEN CAST(pem_cnt AS INT) END AS pem_total,
  CASE WHEN psm_cnt > 0 THEN CAST(psm_cnt AS INT) END AS psm_total
FROM agg ORDER BY device_id
"""


def _s15_heartbeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15: heartbeat subsystem pair (operators/heartbeat.py) — build the
    enrichment for a device universe derived from supplier, drop a
    deterministic subset (suppkey % 7 == 3 'lost' their enrichment), run
    the polling twin, and flatten to one row per metric."""
    from panoptes_spark.operators.heartbeat import (
        heartbeat_enrichment,
        heartbeat_metrics,
    )

    sup = fx.read_table(spark, sf_dir, "supplier")
    devices = sup.select(
        F.concat(F.lit("hb-"), (F.col("s_suppkey") % 25).cast("string"))
        .alias("device_id"),
        (F.col("s_suppkey") % 7).alias("k"),
    ).groupBy("device_id").agg(F.min("k").alias("k"))
    enr = heartbeat_enrichment(devices, 1512629517.03121)
    surviving = enr.join(
        devices.where(F.col("k") != 3).select("device_id"),
        "device_id",
        "left_semi",
    ).select("device_id", "timestamp")
    groups = heartbeat_metrics(devices, surviving, interval_sec=60)
    return groups.select(
        "device_id",
        "metrics_group_type",
        "metrics_group_interval",
        F.explode("metrics").alias("m"),
    ).select(
        "device_id",
        "metrics_group_type",
        "metrics_group_interval",
        F.col("m.metric_name").alias("metric_name"),
        F.col("m.metric_value").alias("metric_value"),
        F.col("m.metric_type").alias("metric_type"),
    ).orderBy("device_id", "metric_name")


_S15_ORACLE = """
WITH devices AS (
  SELECT 'hb-' || (s_suppkey % 25) AS device_id,
         MIN(s_suppkey % 7) AS k
  FROM supplier GROUP BY 1
)
SELECT device_id, 'heartbeat' AS metrics_group_type,
       CAST(60 AS BIGINT) AS metrics_group_interval,
       m.name AS metric_name, m.value AS metric_value,
       'gauge' AS metric_type
FROM devices, (
  VALUES ('status', NULL), ('heartbeat_enrichment_timestamp', NULL)
) v(name, dummy),
LATERAL (
  SELECT CAST(CASE v.name
    WHEN 'status' THEN 1.0
    ELSE CASE WHEN k = 3 THEN -1.0 ELSE 1512629517.0 END
  END AS DOUBLE) AS value, v.name AS name
) m
ORDER BY device_id, metric_name
"""


_S2_PROGRAM = {
    "oids": {
        "sensor_value": {
            "method": "bulk_walk", "oid": ".1.3.6.1.4.1.2636.3.1.13.1.7"
        },
        "base_offset": {"method": "get", "oid": ".1.3.6.1.2.1.1.3.0"},
    },
    "metrics_groups": [
        {
            "group_name": "adjusted_env",
            "dimensions": {"sensor": {"value": "$index", "indices_from": "sensor_value"}},
            "metrics": {
                "adjusted": {
                    "value": "int(sensor_value.$index) + int(base_offset)"
                }
            },
        }
    ],
}


def _s2_scalar_get_program(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: a ``get``-method scalar oid riding in a DSL program — one
    value per device (first row wins, ``_build_map_by_get``
    :216-244 / ``_parse_expression`` :308-309) joined into every indexed
    evaluation through the compiler's single device-dim scalars join.
    The $index dimension keeps (device, index) groups distinct under
    the MetricsGroupSet set semantics."""
    from panoptes_spark.dsl.metric_compiler import (
        MetricDSLCompiler,
        flatten_groups,
    )

    # every oid row also emits its device's base_offset row, in the same
    # pass: a distinct() branch unioned back in would plan a second
    # lineitem scan (Spark reuses no exchange across the union), and the
    # compiler already keeps one get value per device
    tables = fx.oid_tables_from_lineitem(spark, sf_dir)
    rows = F.array(
        F.struct("table_name", "index", "value"),
        F.struct(
            F.lit("base_offset").alias("table_name"),
            F.lit("0").alias("index"),
            (F.substring("device_id", 5, 10).cast("int") * 10)
            .cast("string").alias("value"),
        ),
    )
    tables = tables.select("device_id", F.explode(rows).alias("r")).select(
        "device_id", "r.table_name", "r.index", "r.value"
    )
    comp = MetricDSLCompiler(spark, _S2_PROGRAM, tables, interval_sec=60)
    return flatten_groups(comp.compile())


def _s2_oracle() -> str:
    return f"""
WITH {fx.OID_TABLES_CTE},
scal AS (
  SELECT DISTINCT device_id,
    CAST(SUBSTR(device_id, 5) AS INT) * 10 AS off
  FROM oid_base
)
SELECT v.device_id,
  'adjusted_env' AS metrics_group_type,
  CAST(60 AS BIGINT) AS metrics_group_interval,
  'sensor=' || v.index AS dims_str,
  'adjusted' AS metric_name,
  CAST(CAST(v.value AS BIGINT) + s.off AS DOUBLE) AS metric_value,
  'gauge' AS metric_type
FROM sensor_value v JOIN scal s USING (device_id)
"""


def _s9_kafka_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: the Kafka producer sink's fan-out projection
    (``polling_plugin_agent.py:307-364`` via ``ingest.prepare_fanout``)
    over metrics groups synthesized from orders — per-site topic plus
    the global topic, partitioning key = the series key
    (resource_id|group_type|sorted dims, ``_make_key`` :157-171)."""
    from panoptes_spark.streaming.ingest import prepare_fanout

    orders = fx.read_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    groups = orders.select(
        F.struct(
            F.concat(F.lit("site-"), (k % 5).cast("string"))
            .alias("resource_site"),
            F.lit("network").alias("resource_class"),
            F.lit("sw").alias("resource_subclass"),
            F.lit("t").alias("resource_type"),
            F.concat(F.lit("r-"), k.cast("string")).alias("resource_id"),
            F.lit(None).cast("string").alias("resource_endpoint"),
            F.lit(None).cast("double")
            .alias("resource_creation_timestamp"),
            F.lit(None).cast("string").alias("resource_plugin"),
        ).alias("resource"),
        F.lit("order_metrics").alias("metrics_group_type"),
        F.lit(60).cast("long").alias("metrics_group_interval"),
        F.lit(0.0).alias("metrics_group_creation_timestamp"),
        F.lit("0.2").alias("metrics_group_schema_version"),
        F.array(
            F.struct(
                F.lit("v").alias("metric_name"),
                (k % 100).cast("double").alias("metric_value"),
                F.lit("gauge").alias("metric_type"),
                F.lit(0.0).alias("metric_creation_timestamp"),
            )
        ).alias("metrics"),
        F.array(
            F.struct(
                F.lit("prio").alias("dimension_name"),
                F.col("o_orderpriority").alias("dimension_value"),
            ),
            F.struct(
                F.lit("status").alias("dimension_name"),
                F.col("o_orderstatus").alias("dimension_value"),
            ),
        ).alias("dimensions"),
    )
    out = prepare_fanout(
        groups, suffix="processed", global_topic="panoptes-metrics"
    )
    # value is the full wire JSON whose field ORDER is engine-specific;
    # the driver-checkable projection is the routing decision itself
    return out.select("topic", "key")


_S9_ORACLE = """
WITH g AS (
  SELECT 'site-' || (o_orderkey % 5) AS site,
    'r-' || o_orderkey || '|order_metrics|'
      || 'prio|' || o_orderpriority || '|status|' || o_orderstatus AS key
  FROM orders
)
SELECT t.topic, g.key
FROM g, LATERAL (
  VALUES (g.site || '-processed'), ('panoptes-metrics')
) t(topic)
"""


def _telemetry_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed telemetry end-state (r7 directive 6): the four-subsystem
    pipeline ``tests/test_e2e_composed.py`` proves with restarts —
    discovery → set-reconciliation → counter→gauge rate → enrichment
    attach → Kafka fan-out routing — expressed as ONE batch plan whose
    deterministic end state a DuckDB oracle replays (the ``curation_e2e``
    pattern applied to the telemetry side). The polling/DSL stage is the
    separately-gated ``dsl_metric_program``; this chain consumes its
    output SHAPE (metric points, here from events) so every stage's
    semantics are the gated operators':

    - discovery cycles: two resource snapshots from customer; cycle 2
      drops every 5th device (absent ⇒ delete at set_ts) and carries
      stale timestamps for every 7th (skip_update guard) —
      ``operators/reconcile.py`` semantics (reference
      ``resources/manager.py:46-142``);
    - rates: ``rate_transform`` with the J6 guards over event points;
    - enrichment attach: rates join the RECONCILED store (broadcast dim)
      — a deleted device's samples still rate but no longer enrich/emit,
      exactly the composed test's cycle-2 assertion;
    - fan-out: per-site topic + global topic
      (``polling_plugin_agent.py:307-364``), summarized per
      (topic, group) with decimal-exact rate sums.

    Scale shape: ONE keyed window (rate), one broadcast join, one
    partial-agg rollup; the store build is dim-sized."""
    from panoptes_spark.operators.reconcile import apply_reconciliation

    c = fx.read_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")

    def snapshot(df, ts_col):
        return df.select(
            F.concat(F.lit("user-"), k.cast("string")).alias("resource_id"),
            ts_col.alias("ts"),
            F.concat(F.lit("site-"), (k % 3).cast("string")).alias("site"),
        )

    cur = snapshot(c, (k % 100).cast("double"))
    inc = snapshot(
        c.where(k % 5 > 0),
        ((k % 100) + F.when(k % 7 == 0, -10).otherwise(10)).cast("double"),
    )
    store = apply_reconciliation(
        cur, inc, 1000.0, identity_cols=["resource_id"], ts_col="ts"
    )
    points = fx.metric_points_from_events(spark, sf_dir)
    rates = rate_transform(
        points,
        series_cols=["resource_id", "metrics_group_type"],
        ts_col="ts_ms",
        value_col="metric_value",
        interval_sec=_RATE_INTERVAL,
    )
    from panoptes_spark.operators.telemetry import telemetry_end_state

    # shared plan tail (enrich -> fan-out -> rollup): the streaming-parity
    # test routes its composed stream through the SAME function
    return telemetry_end_state(store, rates)


_TELEMETRY_E2E_ORACLE = f"""
WITH cur AS (
  SELECT 'user-' || CAST(c_custkey AS VARCHAR) AS resource_id,
         CAST(c_custkey % 100 AS DOUBLE) AS ts,
         'site-' || (c_custkey % 3) AS site
  FROM customer
),
inc AS (
  SELECT 'user-' || CAST(c_custkey AS VARCHAR) AS resource_id,
         CAST((c_custkey % 100)
              + CASE WHEN c_custkey % 7 = 0 THEN -10 ELSE 10 END AS DOUBLE)
           AS ts,
         'site-' || (c_custkey % 3) AS site
  FROM customer WHERE c_custkey % 5 > 0
),
plan AS (
  SELECT COALESCE(cur.resource_id, inc.resource_id) AS resource_id,
         cur.site AS cur_site, inc.site AS inc_site,
         CASE
           WHEN cur.ts IS NOT NULL AND inc.ts IS NULL AND cur.ts > 1000.0
             THEN 'keep_newer'
           WHEN cur.ts IS NOT NULL AND inc.ts IS NULL THEN 'delete'
           WHEN cur.ts IS NULL AND inc.ts IS NOT NULL THEN 'add'
           WHEN cur.ts > inc.ts THEN 'skip_update'
           ELSE 'update'
         END AS action
  FROM cur FULL OUTER JOIN inc USING (resource_id)
),
store AS (
  SELECT resource_id,
         CASE WHEN action IN ('add','update') THEN inc_site
              ELSE cur_site END AS site
  FROM plan WHERE action <> 'delete'
),
rates AS ({{rate_sql}}),
live AS (
  SELECT r.*, s.site FROM rates r JOIN store s USING (resource_id)
),
fan AS (
  SELECT t.topic, l.* FROM live l,
    LATERAL (VALUES (l.site || '-processed'), ('panoptes-metrics')) t(topic)
)
SELECT topic, metrics_group_type,
  count(*) AS n_points,
  count(DISTINCT resource_id) AS n_series,
  CAST(round(sum(CAST(rate AS DECIMAL(20,2))), 2) AS DOUBLE) AS sum_rate
FROM fan GROUP BY topic, metrics_group_type
""".replace("{rate_sql}", _RATE_ORACLE)


def _o2_dsl_order_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: the resource DSL's canonical result order
    (``resources.py:770,786`` ORDER BY rowid == stable per-resource
    order; engine identity = resource_id). The driver compare is
    order-insensitive, so the order is encoded AS A VALUE: the rank of
    each row in the canonical order, per site — partitioned so the plan
    carries no global (unpartitioned) window; the global sort variant
    lives in ``query_resources(ordered=True)`` for sinks."""
    from pyspark.sql import Window

    from panoptes_spark.dsl.resource_filter import query_resources

    dsl = (
        'resource_class = "network"'
        ' AND resource_metadata.os_version LIKE "3%"'
    )
    res = fx.resources(spark, sf_dir)
    out = query_resources(res, dsl, ordered=False)
    w = Window.partitionBy("resource_site").orderBy("resource_id")
    return out.select(
        "resource_site",
        "resource_id",
        F.row_number().over(w).alias("site_rank"),
    )


def _o2_oracle() -> str:
    from panoptes_spark.dsl.resource_filter import ResourceFilter

    flat = ResourceFilter(
        'resource_class = "network"'
        ' AND resource_metadata.os_version LIKE "3%"'
    ).to_flat_sql()
    return f"""
WITH {fx.RESOURCES_CTE}
SELECT resource_site, resource_id,
  CAST(ROW_NUMBER() OVER (
    PARTITION BY resource_site ORDER BY resource_id
  ) AS INT) AS site_rank
FROM resources_flat WHERE {flat}
"""


def _p5_wire_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4+P5: the consumer's key filter and wire validation
    (``consumer.py:383-405``) over a kafka-shaped frame synthesized from
    orders: one wire message per order — corrupt JSON (o_orderkey%7==0),
    parseable-but-missing resource_id (%7==1), valid otherwise — keyed
    by class:subclass:partition; the P4 filter keeps 2 of 3 keys."""
    from panoptes_spark.streaming.ingest import parse_and_validate

    orders = fx.read_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    ok_payload = F.concat(
        F.lit(
            '{"metrics_group_type":"order_metrics",'
            '"metrics_group_interval":60,'
            '"metrics_group_creation_timestamp":1.0,'
            '"metrics_group_schema_version":"0.2",'
            '"resource":{"resource_site":"s","resource_class":"network",'
            '"resource_subclass":"sw","resource_type":"t",'
            '"resource_id":"r-'
        ),
        k.cast("string"),
        F.lit('"},"metrics":[{"metric_name":"m","metric_value":'),
        (k % 100).cast("string"),
        F.lit(
            ',"metric_type":"gauge","metric_creation_timestamp":1.0}],'
            '"dimensions":[]}'
        ),
    )
    corrupt = F.concat(
        F.lit('{"metrics_group_type":"order_metrics","resource":{'),
        k.cast("string"),
    )
    missing_id = (
        '{"metrics_group_type":"order_metrics",'
        '"metrics_group_interval":60,'
        '"resource":{"resource_site":"s"},"metrics":[],"dimensions":[]}'
    )
    value = (
        F.when(k % 7 == 0, corrupt)
        .when(k % 7 == 1, F.lit(missing_id))
        .otherwise(ok_payload)
    )
    key = F.concat(F.lit("network:sw:grp"), (k % 3).cast("string"))
    raw = orders.select(
        F.lit("site-processed").alias("topic"),
        key.cast("binary").alias("key"),
        value.cast("binary").alias("value"),
    )
    parsed = parse_and_validate(
        raw, keys=["network:sw:grp0", "network:sw:grp1"]
    )
    return parsed.select(
        "key",
        "is_valid",
        F.col("metrics_group.resource.resource_id").alias("resource_id"),
        # try_element_at: ANSI element_at throws on the empty metrics
        # array of the missing-id rows
        F.try_element_at(
            "metrics_group.metrics", F.lit(1)
        )["metric_value"].alias("mv"),
    )


_P5_WIRE_ORACLE = """
SELECT 'network:sw:grp' || (o_orderkey % 3) AS key,
  o_orderkey % 7 NOT IN (0, 1) AS is_valid,
  CASE WHEN o_orderkey % 7 IN (0, 1) THEN NULL
       ELSE 'r-' || o_orderkey END AS resource_id,
  CASE WHEN o_orderkey % 7 IN (0, 1) THEN NULL
       ELSE CAST(o_orderkey % 100 AS DOUBLE) END AS mv
FROM orders WHERE o_orderkey % 3 IN (0, 1)
"""


def _s16_srx_functional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S16: juniper SRX functional-metrics enrichment builder
    (plugin_enrichment_functional_metrics_juniper_srx.py:37-187) on a
    synthetic NAT-pool walk from supplier, projected to driver-checkable
    scalars through the emitted enrichment JSON (incl. the last-4-octet
    translated-address rule)."""
    from panoptes_spark.operators.device_enrichment import (
        SRX_NAT_NUM_SESSIONS,
        SRX_NAT_POOL_NAME,
        SRX_SPU_CUR_FLOW,
        SRX_SPU_NODE_DESCR,
        juniper_srx_functional_enrichment,
    )

    sup = fx.read_table(spark, sf_dir, "supplier")
    k = F.col("k")
    base = sup.select(
        F.concat(
            F.lit("srx-"), (F.col("s_suppkey") % 10).cast("string")
        ).alias("device_id"),
        F.col("s_suppkey").alias("k"),
    )
    # pool index: <pool id>.4.112.10.<a>.<b>  -> address 112.10.a.b
    pool_idx = F.concat(
        F.expr("k div 10").cast("string"),
        F.lit(".4.112.10."),
        ((k * 7) % 256).cast("string"),
        F.lit("."),
        (k % 256).cast("string"),
    )
    rows = F.array(
        F.struct(
            F.concat(
                F.lit(SRX_NAT_POOL_NAME.lstrip(".") + "."), pool_idx
            ).alias("oid"),
            F.concat(F.lit("pool-"), (k % 5).cast("string")).alias("value"),
        ),
        F.struct(
            F.concat(
                F.lit(SRX_SPU_NODE_DESCR.lstrip(".") + "."),
                (k % 4).cast("string"),
            ).alias("oid"),
            F.concat(F.lit("node"), (k % 4).cast("string")).alias("value"),
        ),
        # walked counters must NOT contribute statics
        F.struct(
            F.concat(
                F.lit(SRX_SPU_CUR_FLOW.lstrip(".") + "."),
                (k % 4).cast("string"),
            ).alias("oid"),
            (k % 1000).cast("string").alias("value"),
        ),
    )
    walk = base.select("device_id", F.explode(rows).alias("r")).select(
        "device_id", "r.oid", "r.value"
    ).distinct()  # a device walk has one row per OID
    devices = walk.select("device_id").distinct()
    enr = juniper_srx_functional_enrichment(spark, walk, devices)

    def vals(tbl: str) -> F.Column:
        return F.from_json(
            F.get_json_object("enrichment", f"$.oids.{tbl}.values"),
            "map<string,string>",
        )

    addr = vals("nat_src_translated_address")
    return enr.select(
        "device_id",
        "namespace",
        F.size(vals("source_pool_name")).cast("int").alias("n_pools"),
        F.size(vals("monitoring_node_descriptions")).cast("int")
        .alias("n_nodes"),
        # every translated address is the last 4 octets -> 112.10.a.b
        F.size(
            F.filter(
                F.map_values(addr), lambda v: v.startswith("112.10.")
            )
        ).cast("int").alias("n_addr_ok"),
        F.get_json_object(
            "enrichment", "$.oids.num_sessions.oid"
        ).alias("sessions_oid"),
        F.expr(
            "cast(json_array_length(get_json_object(enrichment,"
            " '$.metrics_groups')) as int)"
        ).alias("n_groups"),
    ).orderBy("device_id")


_S16_ORACLE = """
WITH base AS (
  SELECT 'srx-' || (s_suppkey % 10) AS device_id, s_suppkey AS k
  FROM supplier
)
SELECT device_id,
  'functional_metrics' AS namespace,
  CAST(COUNT(DISTINCT (k // 10) || '.4.112.10.' || ((k * 7) % 256)
             || '.' || (k % 256)) AS INT) AS n_pools,
  CAST(COUNT(DISTINCT k % 4) AS INT) AS n_nodes,
  CAST(COUNT(DISTINCT (k // 10) || '.4.112.10.' || ((k * 7) % 256)
             || '.' || (k % 256)) AS INT) AS n_addr_ok,
  '.1.3.6.1.4.1.2636.3.39.1.7.1.1.4.1.6' AS sessions_oid,
  CAST(2 AS INT) AS n_groups
FROM base GROUP BY device_id ORDER BY device_id
"""


def _s17_ping_poll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S17: ping polling plugin twin (plugin_polling_ping.py:19-84) over
    synthetic captured ping output — success / 100%-loss / unparseable
    in one batch — flattened to one row per (device, metric)."""
    from panoptes_spark.operators.ping_polling import (
        parse_ping_output,
        ping_metrics_groups,
    )

    sup = fx.read_table(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    mn = (k % 50).cast("string")
    text = (
        F.when(
            k % 5 == 4, F.lit("connect: Network is unreachable")
        )
        .when(
            k % 5 == 3,
            F.lit(
                "ping statistics ---\n10 packets transmitted, 0 received,"
                " 100% packet loss, time 10000ms\n"
                "rtt min/avg/max/mdev = 0.0/0.0/0.0/0.0 ms"
            ),
        )
        .otherwise(
            F.concat(
                F.lit(
                    "ping statistics ---\n10 packets transmitted,"
                    " 10 received, 0% packet loss, time 1439ms\n"
                    "rtt min/avg/max/mdev = "
                ),
                mn, F.lit(".500/"),
                mn, F.lit(".750/"),
                mn, F.lit(".900/0.057 ms"),
            )
        )
    )
    probes = sup.select(
        F.concat(F.lit("ping-"), k.cast("string")).alias("device_id"),
        text.alias("ping_output"),
    )
    groups = ping_metrics_groups(parse_ping_output(probes), interval=60)
    return groups.select(
        "device_id",
        "metrics_group_type",
        "metrics_group_interval",
        F.explode("metrics").alias("m"),
    ).select(
        "device_id",
        "metrics_group_type",
        "metrics_group_interval",
        F.col("m.metric_name").alias("metric_name"),
        F.col("m.metric_value").alias("metric_value"),
        F.col("m.metric_type").alias("metric_type"),
    ).orderBy("device_id", "metric_name")


_S17_ORACLE = """
WITH probes AS (
  SELECT 'ping-' || s_suppkey AS device_id, s_suppkey AS k,
         s_suppkey % 50 AS mn
  FROM supplier
),
mets AS (
  SELECT device_id, name,
    CASE
      WHEN k % 5 = 4 THEN CASE WHEN name = 'ping_status' THEN 7.0 END
      WHEN k % 5 = 3 THEN CASE name
        WHEN 'ping_status' THEN 7.0
        WHEN 'packet_loss_percent' THEN 100.0
        ELSE 0.0 END
      ELSE CASE name
        WHEN 'ping_status' THEN 0.0
        WHEN 'packet_loss_percent' THEN 0.0
        WHEN 'round_trip_minimum' THEN mn + 0.5
        WHEN 'round_trip_average' THEN mn + 0.75
        WHEN 'round_trip_maximum' THEN mn + 0.9
        WHEN 'round_trip_standard_deviation' THEN 0.057
      END
    END AS value,
    k % 5 = 4 AS err
  FROM probes, (
    VALUES ('ping_status'), ('packet_loss_percent'),
           ('round_trip_minimum'), ('round_trip_average'),
           ('round_trip_maximum'), ('round_trip_standard_deviation')
  ) n(name)
)
SELECT device_id, 'ping' AS metrics_group_type,
       CAST(60 AS BIGINT) AS metrics_group_interval,
       name AS metric_name, value AS metric_value,
       'gauge' AS metric_type
FROM mets
WHERE NOT (err AND name <> 'ping_status')
ORDER BY device_id, metric_name
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        name: _dsl_query(dsl) for name, dsl in _DSL_QUERIES.items()
    }
    out.update(
        {
            "s6_store_scan_pushdown": _store_scan,
            "p11_site_grouping": _site_grouping,
            "j1_enrichment_join": _enrichment_join,
            "s13_enrich_build": _enrich_build_query,
            "j6_rate_batch": _rate_batch,
            "a_pricing_summary": _pricing_summary,
            "dsl_metric_program": _dsl_metric_program,
            "j5_reconcile_plan": _reconcile_plan,
            "j5_reconcile_apply": _reconcile_apply,
            "j5_field_diff": _j5_field_diff,
            "j1_interface_pipeline": _iface_query,
            "a2_group_count": _a2_group_count,
            "a4_status_rollup": _a4_status_rollup,
            "a5_ping_stats": _a5_ping_stats,
            "w3_ttl_upsert_expire": _w3_ttl_upsert,
            "s5_namespace_scan": _s5_namespace_scan,
            "p8_line_protocol": _p8_line_protocol,
            "u1_groupset_union": _u1_groupset_union,
            "u2_set_ops": _u2_set_ops,
            "u3_multigroupset": _u_multigroupset,
            "f_scalar_functions": _f_functions,
            "w6_uniform_splay": _w6_uniform_splay,
            "f14_ip_resolve": _f14_ip_resolve,
            "p9_nested_roundtrip": _p9_nested_roundtrip,
            "w_sessionize_events": _sessionize_events,
            "p7_empty_dimension_policy": _p7_empty_dims,
            "w_tumbling_window_agg": _w_tumbling_agg,
            "j8_asof_align": _asof_align,
            "j9_interval_join": _interval_contain,
            "w5_scd2_history": _scd2_history,
            "w7_moving_avg": _w_moving_avg,
            "p12_pivot_wide": _p_pivot_wide,
            "a9_retention_cohorts": _a_retention_cohorts,
            "a10_shipping_priority": _olap_shipping_priority,
            "a11_regional_volume": _olap_regional_volume,
            "a12_rollup_totals": _olap_rollup,
            "w8_rank_suite": _w8_rank_suite,
            "a14_large_orders": _olap_large_orders,
            "a15_returned_revenue": _olap_returned_revenue,
            "a13_above_nation_avg": _olap_above_nation_avg,
            "w9_resample_ffill": _w9_resample,
            "w15_multires_rollup": _w15_multires_rollup,
            "j10_pit_features": _j10_pit_features,
            "w10_gap_report": _w10_gap_report,
            "w11_zscore_anomaly": _w11_zscore,
            "a16_custdist": _olap_custdist,
            "a17_small_qty_revenue": _olap_small_qty_revenue,
            "a18_dormant_value": _olap_dormant_value,
            "a19_cube_summary": _olap_cube,
            "w12_funnel": _w12_funnel,
            "a20_sole_late_supplier": _olap_sole_late_supplier,
            "w13_transition_matrix": _w13_transitions,
            "w14_rolling_engagement": _w14_rolling_engagement,
            "s14_device_enrich": _s14_device_enrich,
            "s15_heartbeat": _s15_heartbeat,
            "s16_srx_functional": _s16_srx_functional,
            "s17_ping_poll": _s17_ping_poll,
            "o2_dsl_order_by": _o2_dsl_order_by,
            "p5_wire_validation": _p5_wire_validation,
            "s9_kafka_fanout": _s9_kafka_fanout,
            "s2_scalar_get_program": _s2_scalar_get_program,
            # r7: composed telemetry end-state
            "telemetry_e2e": _telemetry_e2e,
        }
    )
    from panoptes_spark.pipeline.gate_queries import QUERIES as _PIPE_QUERIES

    out = _driver_order({**_PIPE_QUERIES, **out})

    from panoptes_spark.session import tune_runtime

    def _tuned(fn: Callable[[SparkSession, str], DataFrame]):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            return fn(tune_runtime(spark), sf_dir)

        return run

    return {name: _tuned(fn) for name, fn in out.items()}


#: driver-sample priority: THIS round's new gates and gates whose
#: SEMANTICS changed this round lead the dict so the driver's prefix
#: sample always covers the code most likely to be wrong. Kept SHORT on
#: purpose: every head slot displaces one stale gate from the 50-entry
#: prefix, and ``_driver_order``'s staleness-ascending order bounds
#: every older gate's re-sample cadence. (Refactor-only surfaces whose
#: gates produce byte-identical canon — materialize swaps, artifact
#: sharing — are covered by the full local sweep and rotate normally.)
_DRIVER_PRIORITY = [
    # the r12 rewrites the r12 driver sample missed, whose build-once
    # memo path (the one content-keyed memo) was also rewritten since:
    "dedup_stream_pairs",         # sink fold; comps path collapsed
    "dedup_log_compacted_pairs",  # staging copy + compaction
    "p7_empty_dimension_policy",  # DSL plan memoized per lineitem content
    "dsl_metric_program",         # DSL plan memoized per lineitem content
    "ann_filtered_topk",          # shared index artifact, dim memo
    "ann_retrain_swap",           # retrain generation replaces dim slots
    "ann_stream_topk",            # sink fold into a per-session temp dir
]


def _last_sampled_rounds() -> dict[str, int]:
    """gate -> highest round whose committed CORRECTNESS_r*.json holds a
    row for it (0 = never driver-sampled). Parsed from the committed
    artifacts next to this file, so the ordering is deterministic and
    driver-visible (the same everywhere within one round, different
    across rounds); unreadable artifacts are skipped rather than
    failing the registry build."""
    import glob
    import json
    import os
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        if isinstance(rows, dict):
            for gate in rows:
                out[gate] = max(out.get(gate, 0), rnd)
    return out


def _driver_order(d: dict) -> dict:
    """Both gate families in driver-sample order: the
    ``_DRIVER_PRIORITY`` head, then every other gate by LAST-DRIVER-
    SAMPLED ROUND ASCENDING, computed from the committed
    CORRECTNESS_r*.json artifacts themselves. The driver samples a
    50-entry prefix, so staleness-ascending order puts the stalest gates
    in it and every gate is re-sampled within ceil(n_gates / 50) rounds
    of its last row, the best cadence at that sample size. Never-sampled
    gates sort first (round 0); ties break by name, so the order is
    total and does not depend on the order of ``d``."""
    head = [n for n in _DRIVER_PRIORITY if n in d]
    last = _last_sampled_rounds()
    rest = sorted(
        (n for n in d if n not in set(head)),
        key=lambda n: (last.get(n, 0), n),
    )
    return {n: d[n] for n in head + rest}


def oracle_sql() -> dict[str, str]:
    out = {name: _dsl_oracle(dsl) for name, dsl in _DSL_QUERIES.items()}
    out.update(
        {
            "s6_store_scan_pushdown": _STORE_SCAN_ORACLE,
            "p11_site_grouping": _SITE_GROUPING_ORACLE,
            "j1_enrichment_join": _ENRICHMENT_JOIN_ORACLE,
            "s13_enrich_build": _enrich_build_oracle(),
            "j6_rate_batch": _RATE_ORACLE,
            "a_pricing_summary": _PRICING_SUMMARY_ORACLE,
            "dsl_metric_program": _DSL_METRIC_ORACLE,
            "j5_reconcile_plan": _RECONCILE_PLAN_ORACLE,
            "j5_reconcile_apply": _RECONCILE_APPLY_ORACLE,
            "j5_field_diff": _J5_FIELD_DIFF_ORACLE,
            "j1_interface_pipeline": _IFACE_ORACLE,
            "a2_group_count": _A2_ORACLE,
            "a4_status_rollup": _A4_ORACLE,
            "a5_ping_stats": _A5_ORACLE,
            "w3_ttl_upsert_expire": _W3_ORACLE,
            "s5_namespace_scan": _S5_ORACLE,
            "p8_line_protocol": _P8_ORACLE,
            "u1_groupset_union": _U1_ORACLE,
            "u2_set_ops": _U2_ORACLE,
            "u3_multigroupset": _U_MULTIGROUPSET_ORACLE,
            "f_scalar_functions": _F_FUNCTIONS_ORACLE,
            "w6_uniform_splay": _w6_oracle(),
            "f14_ip_resolve": _F14_ORACLE,
            "p9_nested_roundtrip": _P9_ORACLE,
            "w_sessionize_events": _SESSIONIZE_ORACLE,
            "p7_empty_dimension_policy": _P7_ORACLE,
            "w_tumbling_window_agg": _W_TUMBLING_ORACLE,
            "j8_asof_align": _ASOF_ORACLE,
            "j9_interval_join": _INTERVAL_ORACLE,
            "w5_scd2_history": _SCD2_ORACLE,
            "w7_moving_avg": _W_MOVING_AVG_ORACLE,
            "p12_pivot_wide": _PIVOT_ORACLE,
            "a9_retention_cohorts": _RETENTION_ORACLE,
            "a10_shipping_priority": _OLAP_Q3_ORACLE,
            "a11_regional_volume": _OLAP_Q5_ORACLE,
            "a12_rollup_totals": _OLAP_ROLLUP_ORACLE,
            "w8_rank_suite": _W8_RANK_ORACLE,
            "a14_large_orders": _OLAP_Q18_ORACLE,
            "a15_returned_revenue": _OLAP_Q10_ORACLE,
            "a13_above_nation_avg": _OLAP_ABOVE_AVG_ORACLE,
            "w9_resample_ffill": _W9_RESAMPLE_ORACLE,
            "w15_multires_rollup": _W15_MULTIRES_ORACLE,
            "j10_pit_features": _J10_PIT_ORACLE,
            "w10_gap_report": _W10_GAP_ORACLE,
            "w11_zscore_anomaly": _W11_ZSCORE_ORACLE,
            "a16_custdist": _OLAP_Q13_ORACLE,
            "a17_small_qty_revenue": _OLAP_Q17_ORACLE,
            "a18_dormant_value": _OLAP_Q22_ORACLE,
            "a19_cube_summary": _OLAP_CUBE_ORACLE,
            "w12_funnel": _W12_FUNNEL_ORACLE,
            "a20_sole_late_supplier": _OLAP_Q21_ORACLE,
            "w13_transition_matrix": _W13_TRANSITIONS_ORACLE,
            "w14_rolling_engagement": _W14_ENGAGEMENT_ORACLE,
            "s14_device_enrich": _S14_ORACLE,
            "s15_heartbeat": _S15_ORACLE,
            "s16_srx_functional": _S16_ORACLE,
            "s17_ping_poll": _S17_ORACLE,
            "o2_dsl_order_by": _o2_oracle(),
            "p5_wire_validation": _P5_WIRE_ORACLE,
            "s9_kafka_fanout": _S9_ORACLE,
            "s2_scalar_get_program": _s2_oracle(),
            # r7: composed telemetry end-state
            "telemetry_e2e": _TELEMETRY_E2E_ORACLE,
        }
    )
    from panoptes_spark.pipeline.gate_queries import ORACLES as _PIPE_ORACLES

    # same order as queries(), so name <-> oracle pairing is positionally
    # stable for any prefix-sampling driver
    return _driver_order({**_PIPE_ORACLES, **out})
