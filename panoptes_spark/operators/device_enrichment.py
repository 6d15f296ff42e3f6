"""Vendor device-metrics enrichment builders (generic-SNMP family).

The reference's second-biggest plugin family: walk a device's entity /
sensor MIB tables and emit the *enrichment* that parameterizes the
Generic SNMP Polling DSL — an ``oids`` map (static value dicts +
bulk_walk OIDs) plus ``metrics_groups`` DSL programs
(``plugins/enrichment/generic/snmp/juniper/
plugin_enrichment_juniper_device_metrics.py:233-428``,
``.../cisco/ios/plugin_enrichment_cisco_ios_device_metrics.py``).

Spark shape: one map-only pass (:func:`slice_walk`) tags each walk row
with its MIB table. Each enrichment component is a projection plus one
device-keyed aggregate over its table (:func:`_table`), emitted as a
(device_id, frag_name, frag) fragment by :func:`_frag` or
:func:`_count_frag`. All ten builders end in :func:`_assemble`: it
unions the fragments, folds each device's into one sorted map,
left-joins that to the device frame and renders the enrichment JSON
from the oids entries (:func:`_static`, :func:`_bulk`, :func:`_get`)
and the metrics-group templates (:func:`_groups`, :func:`_splice_count`).
Each persist is decided at its call site, not inside a helper.

The walk is read once only where a builder persists its slice and reads
nothing else of the walk: juniper, cisco IOS, BGP, NX-OS, ciena light,
cisco ASA and aruba WAP. Aruba device persists its slice but reads the
walk again for its scalar memory-total get. Juniper SRX and ciena device
do not persist their slice, so each of their two table reads re-reads
the walk (SRX's choice is measured in SCALE.md, "Build-time persists").
Past the slice, everything is device-dimension sized.

Replayed value-exactly against the reference's own goldens
(``tests/plugins/enrichment/generic/snmp/juniper/data/*_results.json``)
in ``tests/test_golden_device_enrichment.py`` where the reference corpus
is present; hand-computed cases for every builder are in
``tests/test_device_enrichment_family.py``.
"""

from __future__ import annotations

import json
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# MIB layout, from the reference's frozen tables
# (framework/utilities/snmp/mibs/juniper.py:16-32, snmpv2.py:14-19)
JNX = ".1.3.6.1.4.1.2636.3.1.13.1"
JNX_DESCR = f"{JNX}.5"
JNX_STATE = f"{JNX}.6"
JNX_TEMP = f"{JNX}.7"
JNX_CPU = f"{JNX}.8"
JNX_BUFFER = f"{JNX}.11"
JNX_MEMORY = f"{JNX}.15"
JNX_CPU_1MIN = f"{JNX}.23"
JNX_CPU_5MIN = f"{JNX}.24"
JNX_CPU_15MIN = f"{JNX}.25"
HR_STORAGE_TYPE = ".1.3.6.1.2.1.25.2.3.1.2"
HR_STORAGE_DESCR = ".1.3.6.1.2.1.25.2.3.1.3"
HR_STORAGE_UNITS = ".1.3.6.1.2.1.25.2.3.1.4"
HR_STORAGE_SIZE = ".1.3.6.1.2.1.25.2.3.1.5"
HR_STORAGE_USED = ".1.3.6.1.2.1.25.2.3.1.6"
HR_STORAGE_FAILS = ".1.3.6.1.2.1.25.2.3.1.7"

MELTING_POINT_STEEL = 1371  # framework/const.py:119

# juniper entity-name grammars (plugin :18-23). re.match anchors at the
# start -> '^'-anchored Java regex. The power loop does NOT break, so
# the LAST matching pattern supplies the type.
FAN_TYPES = [
    r"Fan Tray \d+ Fan \d+",
    r"Fan Tray \d+",
    r"FAN \d+",
    r"node\d SRX\d+ \w+ fan \d",
    r"node\d Fan \d",
    r"node\d \w+ Tray Fan \d+",
    r"(Top|Bottom)\s(Rear|Middle|Front)\sFan",
]
POWER_MODULE_TYPES = [
    (r"PDM \d{1,2}$", "PDM"),
    (r"PEM", "PEM"),
    (r"PSM \d{1,2}$", "PSM"),
    (r"Power Supply \d$", "PEM"),
    (r"Power Supply: Power Supply \d+ @", "PEM"),
    (r"node\d PEM \d", "PEM"),
]
CPU_NAME_TYPES = ["routing engine", "fpc", "fpm", "cp", "pic", "fbc"]

STORAGE_TYPE_NAMES = {  # rfc2790 hrStorageType suffixes (plugin :189-200)
    "1": "hrStorageOther",
    "2": "hrStorageRam",
    "3": "hrStorageVirtualMemory",
    "4": "hrStorageFixedDisk",
    "5": "hrStorageRemovableDisk",
    "6": "hrStorageFloppyDisk",
    "7": "hrStorageCompactDisc",
    "8": "hrStorageRamDisk",
    "9": "hrStorageFlashMemory",
    "10": "hrStorageNetworkDisk",
}


def cpu_interval_oid(polling_frequency: int) -> str:
    """plugin :37-54 — pick the load-average window for the poll rate."""
    if 5 <= polling_frequency < 300:
        return JNX_CPU_1MIN
    if 300 <= polling_frequency < 900:
        return JNX_CPU_5MIN
    if polling_frequency >= 900:
        return JNX_CPU_15MIN
    return JNX_CPU_1MIN


def slice_walk(walk: DataFrame, tables: dict[str, str]) -> DataFrame:
    """(device_id, oid, value, ...) -> (device_id, table, index, value,
    ...) in one map-only pass: prefix-tag each row with the first
    matching MIB table (reference bulk_walk = prefix scan), index = the
    OID remainder. Every walk column besides device_id and oid rides
    along (BGP's ``value_hex``)."""
    tag = None
    for name, base in tables.items():
        prefix = base.lstrip(".") + "."
        cond = F.col("oid").startswith(prefix)
        payload = F.struct(
            F.lit(name).alias("table"),
            F.expr(f"substring(oid, {len(prefix) + 1})").alias("index"),
        )
        tag = F.when(cond, payload) if tag is None else tag.when(cond, payload)
    values = [c for c in walk.columns if c not in ("device_id", "oid")]
    return (
        walk.select("device_id", tag.alias("t"), *values)
        .where(F.col("t").isNotNull())
        .select("device_id", "t.table", "t.index", *values)
    )


def _table(tagged: DataFrame, name: str) -> DataFrame:
    """One MIB table of a :func:`slice_walk` frame: (device_id, index,
    value, ...)."""
    return tagged.where(F.col("table") == name).drop("table")


def _last_index(col: str = "index") -> F.Column:
    """The last dot-separated element of an OID index (or OID value)."""
    return F.element_at(F.split(col, r"\."), -1)


def _frag(
    df: DataFrame, name: str, key: str | F.Column, value: str | F.Column
) -> DataFrame:
    """Per-device JSON object fragment of one static-values map:
    (device_id, name, to_json(map(key -> value)))."""
    key, value = (F.col(c) if isinstance(c, str) else c for c in (key, value))
    return df.groupBy("device_id").agg(
        F.lit(name).alias("frag_name"),
        F.to_json(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct(key.alias("k"), value.alias("v"))))
            )
        ).alias("frag"),
    )


def _count_frag(df: DataFrame, name: str) -> DataFrame:
    """Per-device row count fragment: (device_id, name, str(count))."""
    return df.groupBy("device_id").agg(
        F.lit(name).alias("frag_name"),
        F.count(F.lit(1)).cast("string").alias("frag"),
    )


def _frag_of(name: str, default: str = "{}") -> F.Column:
    """A device's fragment ``name`` from the folded map ``m``."""
    return F.coalesce(F.element_at("m", F.lit(name)), F.lit(default))


def _count_of(name: str, type_: str = "int") -> F.Column:
    """A device's count fragment ``name`` as a number, 0 when absent."""
    return F.coalesce(F.element_at("m", F.lit(name)).cast(type_), F.lit(0))


def _static(values_json: F.Column) -> F.Column:
    return F.concat(
        F.lit('{"method": "static", "values": '), values_json, F.lit("}")
    )


def _bulk(oid: str | F.Column, index_transform: str | None = None) -> F.Column:
    """bulk_walk entry; ``index_transform`` names the fragment that
    re-keys the walked rows."""
    if isinstance(oid, str):
        oid = F.lit(oid)
    if index_transform is None:
        return F.concat(F.lit('{"method": "bulk_walk", "oid": "'), oid, F.lit('"}'))
    return F.concat(
        F.lit('{"method": "bulk_walk", "oid": "'), oid,
        F.lit('", "index_transform": '), _frag_of(index_transform), F.lit("}"),
    )


def _get(oid: str) -> F.Column:
    return F.lit('{"method": "get", "oid": "' + oid + '"}')


def _splice_count(template: dict, count: F.Column) -> F.Column:
    """Render a metrics-group template whose ``"__N__"`` placeholder is a
    per-device integer literal."""
    pre, post = json.dumps(template).split('"__N__"')
    return F.concat(F.lit(pre), count.cast("string"), F.lit(post))


def _groups(*groups: dict | F.Column | None) -> F.Column:
    """The metrics_groups JSON array. A dict renders verbatim; a Column
    renders per device, and a null value (or a None argument) leaves its
    group out."""
    cols = [
        F.lit(json.dumps(g)) if isinstance(g, dict) else g
        for g in groups
        if g is not None
    ]
    return F.concat(F.lit("["), F.concat_ws(", ", *cols), F.lit("]"))


def _assemble(
    devices: DataFrame,
    frags: list[DataFrame],
    oids: list[str | tuple[str, F.Column]],
    groups: F.Column,
    namespace: str = "metrics",
) -> DataFrame:
    """Every builder's last step: union the per-device fragments, fold
    each device's into one map ``m`` (fragment name -> JSON text),
    left-join it to ``devices`` so a device with no walk rows still gets
    a program, and render (device_id, namespace, enrichment).

    ``oids`` lists the oids-map entries in order: a ``(key, column)``
    pair, or a bare name for the static map of the fragment of that
    name. ``oids`` and ``groups`` may read ``m`` and any ``devices``
    column; a null oids entry leaves its key out.
    """
    per_device = devices.join(
        reduce(DataFrame.unionByName, frags).groupBy("device_id").agg(
            F.map_from_entries(
                # deterministic: collect_list order is task-dependent
                F.array_sort(F.collect_list(F.struct("frag_name", "frag")))
            ).alias("m")
        ),
        "device_id",
        "left",
    )
    entries = [(e, _static(_frag_of(e))) if isinstance(e, str) else e for e in oids]
    oids_json = F.concat(
        F.lit("{"),
        F.concat_ws(", ", *[F.concat(F.lit(f'"{k}": '), v) for k, v in entries]),
        F.lit("}"),
    )
    return per_device.select(
        "device_id",
        F.lit(namespace).alias("namespace"),
        F.concat(
            F.lit('{"oids": '), oids_json,
            F.lit(', "metrics_groups": '), groups, F.lit("}"),
        ).alias("enrichment"),
    )


# -- juniper metrics_groups DSL templates (plugin :321-428), rendered
# verbatim; conditional groups appended per device ----------------------

_JUNIPER_ENV_GROUP = {
    "group_name": "environment",
    "dimensions": {"sensor": "temp_sensor_name.$index"},
    "metrics": {
        "temperature_fahrenheit": {
            "metric_type": "gauge",
            "type": "float",
            "transform": "lambda x: round((x * 1.8) + 32, 2) if x != 0 else 0.0",
            "value": "temp_sensor_values.$index",
        }
    },
}
_JUNIPER_CPU_GROUP = {
    "group_name": "cpu",
    "dimensions": {
        "cpu_name": "cpu_name.$index",
        "cpu_no": "cpu_no.$index",
        "cpu_type": "'data' if 'Routing Engine' in cpu_name.$index else 'ctrl'",
    },
    "metrics": {
        "cpu_utilization": {"metric_type": "gauge", "value": "cpu_util.$index"}
    },
}
_JUNIPER_MEMORY_GROUP = {
    "group_name": "memory",
    "dimensions": {"memory_type": "cpu_name.$index"},
    "metrics": {
        "memory_used": {
            "metric_type": "gauge",
            "indices_from": "memory_total",
            "value": "float(memory_used.$index) / 100.0 * memory_total.$index",
        },
        "memory_total": {
            "metric_type": "gauge",
            "value": "memory_total.$index",
        },
    },
}
_JUNIPER_POWER_GROUP = {
    "group_name": "environment",
    "dimensions": {"power_module_type": "power_module_types.$index"},
    "metrics": {
        "power_units_on": {
            "metric_type": "gauge",
            "indices_from": "power_units_total",
            "value": "len([(x,y) for (x,y) in oper_status.items() if x in "
            "power_module_types and y not in "
            "['6'] and power_module_types[x] == $index])",
        },
        "power_units_total": {
            "metric_type": "gauge",
            "value": "power_units_total.$index",
        },
    },
}
_JUNIPER_FANS_GROUP = {
    "group_name": "environment",
    "dimensions": {},
    "metrics": {
        "fans_ok": {
            "metric_type": "gauge",
            "value": "len([(x,y) for (x,y) in oper_status.items() if x in "
            "fans and y not in ['6']])",
        },
        "fans_total": "__N__",
    },
}
_JUNIPER_DISK_GROUP = {
    "group_name": "disk",
    "dimensions": {
        "storage_description": "storage_description.$index",
        "storage_type": "storage_type.$index",
    },
    "metrics": {
        "storage_allocation_failures": {
            "metric_type": "counter",
            "value": "storage_allocation_failures.$index",
        },
        "storage_used_bytes": {
            "metric_type": "gauge",
            "value": "int(storage_used_bytes.$index) * "
            "int(storage_allocation_units.$index)",
        },
        "storage_total_bytes": {
            "metric_type": "gauge",
            "value": "storage_total_bytes.$index",
        },
    },
}


def _regex_any(patterns: list[str]) -> str:
    return "^(" + "|".join(f"(?:{p})" for p in patterns) + ")"


def juniper_device_enrichment(
    spark: SparkSession,
    walk: DataFrame,
    devices: DataFrame,
    polling_frequency: int = 300,
    include_disk: bool = False,
) -> DataFrame:
    """Juniper device-metrics enrichment builder
    (plugin_enrichment_juniper_device_metrics.py:233-458).

    ``walk``: (device_id string, oid string, value string) raw walk rows.
    ``devices``: (device_id string, model string) — model drives the
    EX4300 CPU-OID exception (:245-247).

    Returns (device_id, namespace, enrichment) with ``enrichment`` the
    {"oids": ..., "metrics_groups": ...} JSON the polling DSL consumes.
    """
    tables = {
        "descr": JNX_DESCR,
        "state": JNX_STATE,
        "temp": JNX_TEMP,
        "buffer": JNX_BUFFER,
        "memory": JNX_MEMORY,
        "cpuN": cpu_interval_oid(polling_frequency),
        "st_type": HR_STORAGE_TYPE,
        "st_descr": HR_STORAGE_DESCR,
        "st_units": HR_STORAGE_UNITS,
        "st_size": HR_STORAGE_SIZE,
    }
    # kept: this and the four persists below, measured together in
    # SCALE.md "Build-time persists"
    tagged = slice_walk(walk, tables).persist()

    # entity universe: index -> description (threaded_cached_property
    # _entity_names, :56-66); device-dim sized, reused by 4 components
    entity = _table(tagged, "descr").withColumnRenamed("value", "name").persist()

    # _cpus (:85-101) ALWAYS walks the poll-rate load-average column;
    # the EX4300 model only swaps the cpu_util OID string REPORTED in
    # the oids map (:245-247)
    cpus = _table(tagged, "cpuN").select("device_id", "index").join(
        entity, ["device_id", "index"]
    ).where(
        F.lower(F.col("name")).rlike("|".join(CPU_NAME_TYPES))
    ).persist()

    temps = (
        _table(tagged, "temp")
        .where(
            (F.col("value").cast("long") > 0)
            & (F.col("value").cast("long") < MELTING_POINT_STEEL)
        )
        .join(entity, ["device_id", "index"])
    )

    memory = _table(tagged, "memory").select(
        "device_id",
        "index",
        (F.col("value").cast("long") * (2**20)).alias("memory_total"),
    ).where(F.col("memory_total") != 0)

    fans = entity.where(F.col("name").rlike(_regex_any(FAN_TYPES))).persist()

    # last matching grammar wins (the reference loop has no break) ->
    # evaluate the when-chain in reverse declaration order
    ptype = None
    for pat, typ in reversed(POWER_MODULE_TYPES):
        cond = F.col("name").rlike("^(?:" + pat + ")")
        ptype = (
            F.when(cond, F.lit(typ)) if ptype is None
            else ptype.when(cond, F.lit(typ))
        )
    power = entity.withColumn("ptype", ptype).where(
        F.col("ptype").isNotNull()
    ).persist()

    frags = [
        _frag(cpus, "cpu_name", "index", "name"),
        _frag(cpus, "cpu_no", "index", F.concat(F.lit("Module "), "index")),
        _frag(memory, "memory_total", "index", "memory_total"),
        _frag(temps, "temp_sensor_name", "index", "name"),
        _frag(fans, "fans", "index", "name"),
        _frag(power, "power_modules", "index", "name"),
        _frag(power, "power_module_types", "index", "ptype"),
        _frag(
            power.groupBy("device_id", "ptype").agg(
                F.count(F.lit(1)).alias("n")
            ),
            "power_units_total",
            "ptype",
            "n",
        ),
        # identity rows the reference appends to power_module_types
        # (_add_power_module_types_mapping, :231-233)
        _frag(
            power.select("device_id", "ptype").distinct(),
            "power_type_identity",
            "ptype",
            "ptype",
        ),
        _count_frag(fans, "_n_fans"),
        _count_frag(power, "_n_power"),
    ]
    if include_disk:
        st_descr = _table(tagged, "st_descr")
        st_units = _table(tagged, "st_units").select(
            "device_id", "index", F.col("value").cast("long").alias("units")
        )
        st_type = _table(tagged, "st_type").select(
            "device_id",
            "index",
            F.coalesce(
                F.element_at(
                    F.create_map(
                        *[
                            F.lit(x)
                            for k, v in STORAGE_TYPE_NAMES.items()
                            for x in (k, v)
                        ]
                    ),
                    _last_index("value"),
                ),
                F.lit("unknown"),
            ).alias("tname"),
        )
        st_size = _table(tagged, "st_size").select(
            "device_id", "index", F.col("value").cast("long").alias("size")
        ).join(st_units, ["device_id", "index"])
        frags += [
            _frag(st_descr, "storage_description", "index", "value"),
            _frag(st_type, "storage_type", "index", "tname"),
            _frag(st_units, "storage_allocation_units", "index", "units"),
            _frag(
                st_size,
                "storage_total_bytes",
                "index",
                (F.col("size") * F.col("units")),
            ),
            _count_frag(st_descr, "_n_storage"),
        ]

    cpu_oid = F.when(
        F.col("model").contains("EX4300"), F.lit(JNX_CPU)
    ).otherwise(F.lit(cpu_interval_oid(polling_frequency)))

    # power_module_types = per-index map + identity rows; both fragments
    # are JSON objects -> splice (identity may be '{}')
    pmt = F.expr(
        "to_json(map_concat("
        "  from_json(m['power_module_types'], 'map<string,string>'),"
        "  from_json(coalesce(m['power_type_identity'], '{}'),"
        "            'map<string,string>')))"
    )
    pmt = F.when(F.element_at("m", F.lit("power_module_types")).isNull(),
                 F.lit("{}")).otherwise(pmt)

    oids = [
        "cpu_name",
        "cpu_no",
        ("cpu_util", _bulk(cpu_oid)),
        ("memory_used", _bulk(JNX_BUFFER)),
        "memory_total",
        ("oper_status", _bulk(JNX_STATE)),
        "fans",
        "power_modules",
        ("power_module_types", _static(pmt)),
        "power_units_total",
        ("temp_sensor_values", _bulk(JNX_TEMP)),
        "temp_sensor_name",
    ]
    if include_disk:
        oids += [
            "storage_description",
            "storage_type",
            ("storage_allocation_failures", _bulk(HR_STORAGE_FAILS)),
            "storage_allocation_units",
            ("storage_used_bytes", _bulk(HR_STORAGE_USED)),
            "storage_total_bytes",
        ]
    groups = _groups(
        _JUNIPER_ENV_GROUP,
        _JUNIPER_CPU_GROUP,
        _JUNIPER_MEMORY_GROUP,
        F.when(
            _count_of("_n_power") > 0, F.lit(json.dumps(_JUNIPER_POWER_GROUP))
        ),
        F.when(
            _count_of("_n_fans") > 0,
            _splice_count(_JUNIPER_FANS_GROUP, _count_of("_n_fans")),
        ),
        F.when(
            _count_of("_n_storage") > 0, F.lit(json.dumps(_JUNIPER_DISK_GROUP))
        ) if include_disk else None,
    )
    return _assemble(devices.select("device_id", "model"), frags, oids, groups)


# ---------------------------------------------------------------------------
# Cisco IOS device-metrics enrichment
# (plugins/enrichment/generic/snmp/cisco/ios/
#  plugin_enrichment_cisco_ios_device_metrics.py)
# ---------------------------------------------------------------------------

ENT_PHYSICAL_CLASS = ".1.3.6.1.2.1.47.1.1.1.1.5"
ENT_PHYSICAL_RELPOS = ".1.3.6.1.2.1.47.1.1.1.1.6"
ENT_PHYSICAL_NAME = ".1.3.6.1.2.1.47.1.1.1.1.7"
ENT_PHYSICAL_DESCR = ".1.3.6.1.2.1.47.1.1.1.1.2"
CISCO_MEM_POOL_NAME = ".1.3.6.1.4.1.9.9.48.1.1.1.2"
CISCO_MEM_POOL_USED = ".1.3.6.1.4.1.9.9.48.1.1.1.5"
CISCO_MEM_POOL_FREE = ".1.3.6.1.4.1.9.9.48.1.1.1.6"
CPM_CPU_1MIN = ".1.3.6.1.4.1.9.9.109.1.1.1.1.7"
CPM_CPU_5MIN = ".1.3.6.1.4.1.9.9.109.1.1.1.1.8"
CPM_CPU_MONINTERVAL = ".1.3.6.1.4.1.9.9.109.1.1.1.1.10"
ENT_SENSOR_TYPE = ".1.3.6.1.4.1.9.9.91.1.1.1.1.1"
ENT_SENSOR_SCALES = ".1.3.6.1.4.1.9.9.91.1.1.1.1.2"
ENT_SENSOR_VALUES = ".1.3.6.1.4.1.9.9.91.1.1.1.1.4"
CEFC_FRU_POWER_STATUS = ".1.3.6.1.4.1.9.9.117.1.1.2.1.2"
CEFC_FANTRAY_STATUS = ".1.3.6.1.4.1.9.9.117.1.4.1.1.1"
ENVMON_FAN_STATE = ".1.3.6.1.4.1.9.9.13.1.4.1.3"
ENVMON_SUPPLY_STATE = ".1.3.6.1.4.1.9.9.13.1.5.1.3"

THIRTYFIVESIXTY_MODELS = ["3560G-48TS-S", "3560X-48PF-L", "3560-48PS"]
ENV_MON_MIB_MODELS = ["6509-E", "none-network-sw"] + THIRTYFIVESIXTY_MODELS
FORTYNINEHUNDRED_MODEL_BUG_PATTERN = r"49\d\d.+"
# entSensorScale index -> signed exponent (plugin :104-115)
SENSOR_EXPONENTS = [-24, -21, -18, -15, -12, -9, -6, -3, 0, 3, 6, 9, 12, 15,
                    18, 21, 24]


def cisco_cpu_interval_oid(polling_frequency: int) -> str:
    """plugin :76-89."""
    if 5 <= polling_frequency < 60:
        return CPM_CPU_MONINTERVAL
    if 60 <= polling_frequency < 300:
        return CPM_CPU_1MIN
    if polling_frequency >= 300:
        return CPM_CPU_5MIN
    return CPM_CPU_1MIN


_CISCO_FANS_ENV = {  # ciscoEnvMonFanState semantics (plugin :346-352)
    "group_name": "environment",
    "dimensions": {},
    "metrics": {
        "fans_ok": {
            "metric_type": "gauge",
            "value": "len([x for x in fan_statuses.values() if x in "
            "['1', '2', '3']])",
        },
        "fans_total": "__N__",
    },
}
_CISCO_FANS_FRU = {
    "group_name": "environment",
    "dimensions": {},
    "metrics": {
        "fans_ok": {
            "metric_type": "gauge",
            "value": "len([x for x in fan_statuses.values() if x == '2'])",
        },
        "fans_total": "__N__",
    },
}
_CISCO_POWER_3560 = {
    "group_name": "environment",
    "dimensions": {},
    "metrics": {
        "power_units_on": {
            "metric_type": "gauge",
            "value": "len([(x,y) for (x,y) in power_status.items() if x in "
            "power_supplies and y in ['1', '2', '3']])",
        },
        "power_units_total": "__N__",
    },
}
_CISCO_POWER_FRU = {
    "group_name": "environment",
    "dimensions": {},
    "metrics": {
        "power_units_on": {
            "metric_type": "gauge",
            "value": "len([(x,y) for (x,y) in entity_fru_control.items() if "
            "x in power_supplies and y in ['2', '9', '12']])",
        },
        "power_units_total": "__N__",
    },
}
_CISCO_CPU_GROUP = {
    "group_name": "cpu",
    "dimensions": {
        "cpu_name": "cpu_name.$index",
        "cpu_no": "cpu_no.$index",
        "cpu_type": "'ctrl'",
    },
    "metrics": {
        "cpu_utilization": {"metric_type": "gauge", "value": "cpu_util.$index"}
    },
}
_CISCO_MEMORY_GROUP = {
    "group_name": "memory",
    "dimensions": {"memory_type": "memory_name.$index"},
    "metrics": {
        "memory_used": {"metric_type": "gauge", "value": "memory_used.$index"},
        "memory_total": {
            "metric_type": "gauge",
            "value": "memory_total.$index",
        },
    },
}
_CISCO_TEMP_GROUP = {
    "group_name": "environment",
    "dimensions": {"sensor": "temp_sensor_name.$index"},
    "metrics": {
        "temperature_fahrenheit": {
            "metric_type": "gauge",
            "type": "float",
            "indices_from": "temp_sensor_scales",
            "transform": "lambda x: round((x * 1.8) + 32, 2)",
            "value": "int(ent_sensor_values.$index) * temp_sensor_scales.$index",
        }
    },
}


def _by_eid(tagged: DataFrame, table: str, value_as: str | None = None) -> DataFrame:
    """An entity-keyed table as (device_id, eid[, value_as]); the
    plugins cast every entity index with int()."""
    cols = [F.col("index").cast("long").alias("eid")]
    if value_as is not None:
        cols.append(F.col("value").alias(value_as))
    return _table(tagged, table).select("device_id", *cols)


def _mem_pools(tagged: DataFrame) -> DataFrame:
    """Memory pools (cisco ios :236-263, asa): id = last index element,
    total = used + free."""
    def pool(table: str, col: str) -> DataFrame:
        return _table(tagged, table).select(
            "device_id",
            _last_index().cast("long").alias("mid"),
            F.col("value").alias(col),
        )

    return (
        pool("mem_name", "memory_name")
        .join(pool("mem_used", "used"), ["device_id", "mid"])
        .join(pool("mem_free", "free"), ["device_id", "mid"])
        .select(
            "device_id", "mid", "memory_name",
            (F.col("used").cast("long") + F.col("free").cast("long"))
            .alias("memory_total"),
        )
    )


def _power_supplies(tagged: DataFrame, names: DataFrame) -> DataFrame:
    """Power supplies (cisco ios :161-174): entPhysicalClass == '6'."""
    return (
        _table(tagged, "pclass")
        .where(F.col("value") == "6")
        .select("device_id", F.col("index").cast("long").alias("eid"))
        .join(names, ["device_id", "eid"])
    )


def _temp_sensors(tagged: DataFrame, names: DataFrame) -> DataFrame:
    """Temperature sensors (cisco ios :121-149): entSensorType == '8',
    with the signed exponent of the sensor's scale and its entity name,
    'celsius' renamed 'fahrenheit'."""
    exp_map = F.create_map(
        *[F.lit(x) for i, e in enumerate(SENSOR_EXPONENTS) for x in (i + 1, e)]
    )
    scales = _table(tagged, "s_scale").select(
        "device_id",
        F.col("index").cast("long").alias("eid"),
        F.col("value").cast("int").alias("scale"),
    )
    return (
        _table(tagged, "s_type")
        .where(F.col("value") == "8")
        .select("device_id", F.col("index").cast("long").alias("eid"))
        .join(scales, ["device_id", "eid"])
        .join(names, ["device_id", "eid"], "left")
        .select(
            "device_id",
            "eid",
            exp_map[F.col("scale")].alias("exponent"),
            F.regexp_replace(
                F.coalesce("name", F.lit("")), "celsius", "fahrenheit"
            ).alias("sensor_name"),
        )
    )


def cisco_ios_device_enrichment(
    spark: SparkSession,
    walk: DataFrame,
    devices: DataFrame,
    polling_frequency: int = 300,
) -> DataFrame:
    """Cisco IOS device-metrics enrichment builder
    (plugin_enrichment_cisco_ios_device_metrics.py:117-451).

    Same contract as :func:`juniper_device_enrichment`; the ``model``
    column drives the 3560 / ENV-MON / 49xx-scale-bug variants, all
    evaluated per device as column expressions.
    """
    cpu_oid = cisco_cpu_interval_oid(polling_frequency)
    tables = {
        "name": ENT_PHYSICAL_NAME,
        "descr": ENT_PHYSICAL_DESCR,
        "pclass": ENT_PHYSICAL_CLASS,
        "relpos": ENT_PHYSICAL_RELPOS,
        "mem_name": CISCO_MEM_POOL_NAME,
        "mem_used": CISCO_MEM_POOL_USED,
        "mem_free": CISCO_MEM_POOL_FREE,
        "cpu": cpu_oid,
        "s_type": ENT_SENSOR_TYPE,
        "s_scale": ENT_SENSOR_SCALES,
        "fan_env": ENVMON_FAN_STATE,
        "fan_fru": CEFC_FANTRAY_STATUS,
    }
    tagged = slice_walk(walk, tables).persist()

    flags = devices.select(
        "device_id",
        "model",
        F.col("model").isin(THIRTYFIVESIXTY_MODELS).alias("is3560"),
        F.col("model").isin(ENV_MON_MIB_MODELS).alias("env_mon"),
        F.col("model")
        .rlike("^(?:" + FORTYNINEHUNDRED_MODEL_BUG_PATTERN + ")")
        .alias("is49xx"),
    ).persist()

    names = _by_eid(tagged, "name", "name").persist()

    # cpus (:265-287): cpu_id = last element of the walk index
    cpu_walk = _table(tagged, "cpu").select(
        "device_id", _last_index().cast("long").alias("cpu_id")
    )
    dev3560 = flags.where("is3560").select("device_id")
    # non-3560: cpu_id must exist in BOTH entity names and relpos keys
    cpus_std = (
        cpu_walk.join(dev3560, "device_id", "left_anti")
        .join(names.withColumnRenamed("eid", "cpu_id"), ["device_id", "cpu_id"])
        .join(
            _by_eid(tagged, "relpos").withColumnRenamed("eid", "cpu_id").distinct(),
            ["device_id", "cpu_id"],
        )
        .select("device_id", "cpu_id", F.col("name").alias("cpu_name"))
    )
    # 3560: reverse lookup — entity whose NAME equals str(cpu_id); first
    # match in walk order == smallest entity index (snmprec rows ascend)
    cpus_3560 = (
        cpu_walk.join(dev3560, "device_id", "left_semi")
        .join(
            names.withColumn(
                "cpu_id", F.expr("try_cast(name as long)")
            ).where(F.col("cpu_id").isNotNull())
            .select("device_id", "cpu_id", "eid"),
            ["device_id", "cpu_id"],
        )
        .groupBy("device_id", "cpu_id")
        .agg(F.min("eid").alias("eid"))
        .join(_by_eid(tagged, "descr", "descr"), ["device_id", "eid"])
        .select("device_id", "cpu_id", F.col("descr").alias("cpu_name"))
    )
    cpus = cpus_std.unionByName(cpus_3560).persist()
    memory = _mem_pools(tagged).persist()
    power = _power_supplies(tagged, names).persist()

    # per-device fan universe: ENV-MON models walk ciscoEnvMonFanState,
    # everyone else cefcFanTrayOperStatus (:117-119, :152-159)
    dev_env = flags.where("env_mon").select("device_id")
    fans = _table(tagged, "fan_env").join(dev_env, "device_id", "left_semi").unionByName(
        _table(tagged, "fan_fru").join(dev_env, "device_id", "left_anti")
    )

    # 49xx models report their scale one decade too high
    temps = (
        _temp_sensors(tagged, names)
        .join(flags.select("device_id", "is49xx"), "device_id")
        .withColumn(
            "scale_value",
            F.pow(
                F.lit(10.0),
                F.col("exponent")
                + F.when(F.col("is49xx"), F.lit(-1)).otherwise(F.lit(0)),
            ),
        )
        .persist()
    )

    cpu_key = F.col("cpu_id").cast("string")
    mid, eid = F.col("mid").cast("string"), F.col("eid").cast("string")
    frags = [
        _frag(cpus, "cpu_name", cpu_key, "cpu_name"),
        _frag(cpus, "cpu_no", cpu_key, F.concat(F.lit("Module "), cpu_key)),
        _frag(memory, "memory_name", mid, "memory_name"),
        _frag(memory, "memory_total", mid, "memory_total"),
        _frag(power, "power_supplies", eid, "name"),
        _frag(temps, "temp_sensor_name", eid, "sensor_name"),
        _frag(temps, "temp_sensor_scales", eid, "scale_value"),
        _count_frag(fans, "_n_fans"),
        _count_frag(power, "_n_power"),
    ]

    # temp_sensor_* keys and the temp group only exist for non-3560
    # models (:317-335)
    def unless_3560(col: F.Column) -> F.Column:
        return F.when(F.col("is3560"), F.lit(None)).otherwise(col)

    fan_oid = F.when(
        F.col("env_mon"), F.lit(ENVMON_FAN_STATE)
    ).otherwise(F.lit(CEFC_FANTRAY_STATUS))
    oids = [
        "cpu_name",
        "cpu_no",
        ("cpu_util", _bulk(cpu_oid)),
        ("memory_used", _bulk(CISCO_MEM_POOL_USED)),
        "memory_total",
        "memory_name",
        ("fan_statuses", _bulk(fan_oid)),
        ("entity_fru_control", _bulk(CEFC_FRU_POWER_STATUS)),
        ("power_status", _bulk(ENVMON_SUPPLY_STATE)),
        "power_supplies",
        ("ent_sensor_values", _bulk(ENT_SENSOR_VALUES)),
        *[
            (k, unless_3560(_static(_frag_of(k))))
            for k in ("temp_sensor_scales", "temp_sensor_name")
        ],
    ]
    n_fans, n_power = _count_of("_n_fans"), _count_of("_n_power")
    groups = _groups(
        F.when(F.col("env_mon"), _splice_count(_CISCO_FANS_ENV, n_fans))
        .otherwise(_splice_count(_CISCO_FANS_FRU, n_fans)),
        F.when(F.col("is3560"), _splice_count(_CISCO_POWER_3560, n_power))
        .otherwise(_splice_count(_CISCO_POWER_FRU, n_power)),
        _CISCO_CPU_GROUP,
        _CISCO_MEMORY_GROUP,
        unless_3560(F.lit(json.dumps(_CISCO_TEMP_GROUP))),
    )
    return _assemble(flags, frags, oids, groups)


# ---------------------------------------------------------------------------
# Juniper BGP session-metrics enrichment
# (plugins/enrichment/generic/snmp/juniper/bgp/
#  plugin_enrichment_bgp_session_metrics.py)
# ---------------------------------------------------------------------------

BGP_PEER_ENTRY = ".1.3.6.1.4.1.2636.5.1.1.2.1.1.1"
BGP_PEER_STATE = BGP_PEER_ENTRY + ".2"
BGP_PEER_STATUS = BGP_PEER_ENTRY + ".3"
BGP_PEER_LOCAL_AS = BGP_PEER_ENTRY + ".9"
BGP_PEER_REMOTE_ADDR = BGP_PEER_ENTRY + ".11"
BGP_PEER_REMOTE_AS = BGP_PEER_ENTRY + ".13"
BGP_PEER_INDEX = BGP_PEER_ENTRY + ".14"
BGP_PEER_ESTABLISHED_TIME = ".1.3.6.1.4.1.2636.5.1.1.2.4.1.1.1"
BGP_PEER_IN_UPDATES = ".1.3.6.1.4.1.2636.5.1.1.2.6.1.1.1"
BGP_PEER_OUT_UPDATES = ".1.3.6.1.4.1.2636.5.1.1.2.6.1.1.2"
BGP_PEER_TRANSITIONS = ".1.3.6.1.4.1.2636.5.1.1.2.6.1.1.5"
BGP_PREFIX_ENTRY = ".1.3.6.1.4.1.2636.5.1.1.2.6.2.1"
BGP_PREFIX_IN = BGP_PREFIX_ENTRY + ".7"
BGP_PREFIX_ACCEPTED = BGP_PREFIX_ENTRY + ".8"
BGP_PREFIX_REJECTED = BGP_PREFIX_ENTRY + ".9"
BGP_PREFIX_ACTIVE = BGP_PREFIX_ENTRY + ".11"
IFX_NAME = ".1.3.6.1.2.1.31.1.1.1.1"
IFX_HIGH_SPEED = ".1.3.6.1.2.1.31.1.1.1.15"
IFX_ALIAS = ".1.3.6.1.2.1.31.1.1.1.18"
IP_NET_TO_PHYSICAL = ".1.3.6.1.2.1.4.35.1.7"

_BGP_METRICS_GROUPS = [  # plugin :305-383, verbatim
    {
        "dimensions": {
            "peer_local_as": {"value": "peer_local_as.$index"},
            "peer_remote_as": {"value": "peer_remote_as.$index"},
            "interface_name": {"value": "interface_name.$index"},
            "interface_alias": {"value": "interface_alias.$index"},
            "bgp_adjacency_type": {"value": "'unknown-bgp_adjacency_type'"},
            "bgp_adjacency_subtype": {
                "value": "'unknown-bgp_adjacency_subtype'"
            },
            "peer_external_connection": {
                "value": "'unknown-peer_external_connection'"
            },
            "local_address": {"value": "local_address.$index"},
            "peer_address": {"value": "peer_address.$index"},
        },
        "group_name": "bgp_session",
        "metrics": {
            "peer_state": {"metric_type": "gauge", "value": "peer_state.$index"},
            "peer_status": {
                "metric_type": "gauge",
                "value": "peer_status.$index",
            },
            "prefix_in_prefixes": {
                "metric_type": "gauge",
                "value": "prefix_in_prefixes.$index",
            },
            "prefix_in_prefixes_accepted": {
                "metric_type": "gauge",
                "value": "prefix_in_prefixes_accepted.$index",
            },
            "prefix_in_prefixes_rejected": {
                "metric_type": "gauge",
                "value": "prefix_in_prefixes_rejected.$index",
            },
            "prefix_in_prefixes_active": {
                "metric_type": "gauge",
                "value": "prefix_in_prefixes_active.$index",
            },
            "interface_speed": {
                "metric_type": "gauge",
                "transform": "lambda x: x * 1000000",
                "value": "interface_speed.$index",
            },
            "peer_session_established_time": {
                "metric_type": "gauge",
                "value": "peer_session_established_time.$index",
            },
            "peer_session_transitions": {
                "metric_type": "gauge",
                "value": "peer_session_transitions.$index",
            },
            "peer_in_updates": {
                "metric_type": "counter",
                "value": "peer_in_updates.$index",
            },
            "peer_out_updates": {
                "metric_type": "counter",
                "value": "peer_out_updates.$index",
            },
        },
    }
]


def _hex_to_dotted(hex_sql: str) -> str:
    """Hex octet string -> dotted-decimal byte string SQL."""
    return (
        f"array_join(transform(sequence(1, length({hex_sql}) div 2),"
        f" i -> cast(conv(substring({hex_sql}, 2*i-1, 2), 16, 10)"
        f" as string)), '.')"
    )


def ip_octstr_readable(df: DataFrame, hex_col: str, out_col: str) -> DataFrame:
    """transform_ip_octstr (plugin :46-68): 4-byte octet strings ->
    dotted IPv4; longer -> canonical compressed IPv6 (same RFC 5952
    shape python's ``ipaddress`` emits, via the F8 transform)."""
    from ..functions.scalar import ipv6_index_transform

    df = df.withColumn("__dotted", F.expr(_hex_to_dotted(hex_col)))
    return df.withColumn(
        out_col,
        F.when(
            F.length(hex_col) == 8, F.col("__dotted")
        ).otherwise(ipv6_index_transform("__dotted")),
    ).drop("__dotted")


def bgp_session_enrichment(
    spark: SparkSession, walk: DataFrame, devices: DataFrame
) -> DataFrame:
    """Juniper BGP session-metrics enrichment builder
    (plugin_enrichment_bgp_session_metrics.py:79-407).

    ``walk``: (device_id, oid, value, value_hex) — ``value_hex`` carries
    the raw hex payload for OCTET-STRING rows (the remote-address table
    is binary; everything else reads the decoded ``value``).

    Static address tables come from the peer-table INDEX structure
    (ipv4/ipv6 variants, :246-269); the interface tables ride a 2-hop
    join remote_addr -> ipNetToPhysical -> ifXTable (:183-212, :282-302);
    prefix-counter tables get an ``index_transform`` map re-keying them
    onto full peer indices via the inverted peer_index walk (:213-232).
    """
    from ..functions.scalar import ipv6_index_transform

    tables = {
        "peer_index": BGP_PEER_INDEX,
        "remote_addr": BGP_PEER_REMOTE_ADDR,
        "prefix_in": BGP_PREFIX_IN,
        "if_name": IFX_NAME,
        "if_speed": IFX_HIGH_SPEED,
        "if_alias": IFX_ALIAS,
        "ipnet": IP_NET_TO_PHYSICAL,
    }
    # slice_walk carries value_hex along with value
    tagged = slice_walk(walk, tables).persist()

    # peer table: local/peer addresses decoded from the index structure
    parts = F.split("index", r"\.")
    peers = _table(tagged, "peer_index").select(
        "device_id",
        "index",
        F.col("value").alias("peer_no"),
        parts.alias("p"),
    )
    v4 = F.col("p")[1] == "1"
    local_v6 = F.expr("array_join(slice(p, 3, 16), '.')")
    peer_v6 = F.expr(
        "array_join(slice(p, 20, greatest(size(p) - 19, 0)), '.')"
    )
    peers = (
        peers.withColumn("__l6", local_v6)
        .withColumn("__p6", peer_v6)
        .withColumn(
            "local_address",
            F.when(v4, F.expr("array_join(slice(p, 3, 4), '.')")).otherwise(
                ipv6_index_transform("__l6")
            ),
        )
        .withColumn(
            "peer_address",
            F.when(
                v4, F.expr("array_join(slice(p, 8, greatest(size(p) - 7, 0)), '.')")
            ).otherwise(ipv6_index_transform("__p6")),
        )
        .select("device_id", "index", "peer_no", "local_address", "peer_address")
        .persist()
    )

    # inverted peer_index walk: peer NUMBER -> full index (:272-281)
    inverted = peers.select(
        "device_id", F.col("peer_no"), F.col("index").alias("peer_index")
    )

    # prefix-counter index_transform: '<peerNo>.<afi>.<safi>' -> peer index
    prefix_map = (
        _table(tagged, "prefix_in")
        .select(
            "device_id",
            "index",
            F.element_at(F.split("index", r"\."), 1).alias("peer_no"),
        )
        .join(inverted, ["device_id", "peer_no"])
        .select("device_id", "index", "peer_index")
    )

    # ipNetToPhysicalState: ip -> ifIndex (:284-296); type 2 = ipv6
    ipnet = _table(tagged, "ipnet").select(
        "device_id",
        F.split("index", r"\.").alias("p"),
    )
    ip_dotted = F.expr(
        "array_join(slice(p, 4, greatest(size(p) - 3, 0)), '.')"
    )
    ipnet = (
        ipnet.withColumn("__ip", ip_dotted)
        .select(
            "device_id",
            F.col("p")[0].alias("ifidx"),
            F.when(F.col("p")[1] == "2", ipv6_index_transform("__ip"))
            .otherwise(F.col("__ip"))
            .alias("ipaddr"),
        )
        .groupBy("device_id", "ipaddr")
        .agg(F.max("ifidx").alias("ifidx"))
    )

    # remote_addr octet strings -> readable, joined to the ip->if map
    remote = ip_octstr_readable(
        _table(tagged, "remote_addr").select("device_id", "index", "value_hex"),
        "value_hex",
        "ipaddr",
    )
    peer_to_if = remote.join(ipnet, ["device_id", "ipaddr"]).select(
        "device_id", "index", "ifidx"
    )

    def if_static(table: str, name: str) -> DataFrame:
        ifvals = _table(tagged, table).select(
            "device_id", F.col("index").alias("ifidx"), "value"
        )
        return _frag(
            peer_to_if.join(ifvals, ["device_id", "ifidx"]), name, "index", "value"
        )

    frags = [
        if_static("if_name", "interface_name"),
        if_static("if_speed", "interface_speed"),
        if_static("if_alias", "interface_alias"),
        _frag(peers, "local_address", "index", "local_address"),
        _frag(peers, "peer_address", "index", "peer_address"),
        _frag(prefix_map, "prefix_transform", "index", "peer_index"),
    ]
    oids = [
        ("peer_state", _bulk(BGP_PEER_STATE)),
        ("peer_status", _bulk(BGP_PEER_STATUS)),
        ("peer_local_as", _bulk(BGP_PEER_LOCAL_AS)),
        ("peer_remote_as", _bulk(BGP_PEER_REMOTE_AS)),
        ("peer_index", _bulk(BGP_PEER_INDEX)),
        ("peer_session_established_time", _bulk(BGP_PEER_ESTABLISHED_TIME)),
        ("peer_in_updates", _bulk(BGP_PEER_IN_UPDATES)),
        ("peer_out_updates", _bulk(BGP_PEER_OUT_UPDATES)),
        ("peer_session_transitions", _bulk(BGP_PEER_TRANSITIONS)),
        *[
            (k, _bulk(oid, "prefix_transform"))
            for k, oid in [
                ("prefix_in_prefixes", BGP_PREFIX_IN),
                ("prefix_in_prefixes_accepted", BGP_PREFIX_ACCEPTED),
                ("prefix_in_prefixes_rejected", BGP_PREFIX_REJECTED),
                ("prefix_in_prefixes_active", BGP_PREFIX_ACTIVE),
            ]
        ],
        "interface_name",
        "interface_speed",
        "interface_alias",
        "local_address",
        "peer_address",
    ]
    return _assemble(
        devices.select("device_id"), frags, oids, _groups(*_BGP_METRICS_GROUPS)
    )


# ---------------------------------------------------------------------------
# Cisco NX-OS device-metrics enrichment
# (plugins/enrichment/generic/snmp/cisco/nxos/
#  plugin_enrichment_cisco_nxos_device_metrics.py)
# ---------------------------------------------------------------------------

CPM_CPU_MEMORY_USED = ".1.3.6.1.4.1.9.9.109.1.1.1.1.12"
CPM_CPU_MEMORY_FREE = ".1.3.6.1.4.1.9.9.109.1.1.1.1.13"

_NXOS_TEMP_GROUP = {
    "group_name": "environment",
    "dimensions": {"sensor": "temp_sensor_name.$index"},
    "metrics": {
        "temperature_fahrenheit": {
            "metric_type": "gauge",
            "type": "float",
            "indices_from": "temp_sensor_scales",
            "transform": "lambda x: round((x * 1.8) + 32, 2)",
            "value": "int(ent_sensor_values.$index) * temp_sensor_scales.$index",
        }
    },
}
_NXOS_FANS_GROUP = {
    "group_name": "environment",
    "dimensions": {},
    "metrics": {
        "fans_ok": {
            "metric_type": "gauge",
            "value": "len([x for x in cefc_fru_fan.values() if x == '2'])",
        },
        "fans_total": "__N__",
    },
}
_NXOS_POWER_GROUP = {
    "group_name": "environment",
    "dimensions": {},
    "metrics": {
        "power_units_on": {
            "metric_type": "gauge",
            "value": "len([(x,y) for (x,y) in entity_fru_control.items() if "
            "x in power_supplies and y in ['2', '9', '12']])",
        },
        "power_units_total": "__N__",
    },
}


def cisco_nxos_device_enrichment(
    spark: SparkSession,
    walk: DataFrame,
    devices: DataFrame,
    polling_frequency: int = 300,
    n3k_models: tuple = ("3048T", "3064-X", "3064"),
) -> DataFrame:
    """Cisco NX-OS device-metrics enrichment builder
    (plugin_enrichment_cisco_nxos_device_metrics.py:45-461).

    N3K models re-key CPU/memory walks through the INVERTED
    entPhysicalParentRelPos table (module number -> smallest entity id,
    :269-281) and emit that map as the DSL ``index_transform``; memory
    types render as 'Module <relpos> (<entity name of relpos>)'.
    """
    cpu_oid = cisco_cpu_interval_oid(polling_frequency)
    tables = {
        "name": ENT_PHYSICAL_NAME,
        "pclass": ENT_PHYSICAL_CLASS,
        "relpos": ENT_PHYSICAL_RELPOS,
        "cpu": cpu_oid,
        "mem_used": CPM_CPU_MEMORY_USED,
        "mem_free": CPM_CPU_MEMORY_FREE,
        "s_type": ENT_SENSOR_TYPE,
        "s_scale": ENT_SENSOR_SCALES,
        "fan": CEFC_FANTRAY_STATUS,
    }
    tagged = slice_walk(walk, tables).persist()

    flags = devices.select(
        "device_id",
        F.col("model").isin(list(n3k_models)).alias("n3k"),
    ).persist()

    names = _by_eid(tagged, "name", "name").persist()
    relpos = _by_eid(tagged, "relpos", "relpos").persist()
    # inverse: module number (int of relpos) -> SMALLEST entity id
    inverse = relpos.groupBy(
        "device_id", F.col("relpos").cast("long").alias("relkey")
    ).agg(F.min("eid").alias("min_eid")).persist()
    relpos_by_mid = relpos.select("device_id", F.col("eid").alias("mid"), "relpos")

    def remap(table: str) -> DataFrame:
        """raw walk id -> n3k inverse-table id (per-device conditional);
        non-n3k devices keep the raw id. A missing inverse entry on an
        n3k device is the reference's KeyError -> row dropped."""
        raw = _table(tagged, table).select(
            "device_id", _last_index().cast("long").alias("raw_id"), "value"
        ).join(flags, "device_id")
        n3k = raw.where("n3k").join(
            inverse.withColumnRenamed("relkey", "raw_id"),
            ["device_id", "raw_id"],
        ).select("device_id", F.col("min_eid").alias("mid"), "value")
        plain = raw.where(~F.col("n3k")).select(
            "device_id", F.col("raw_id").alias("mid"), "value"
        )
        return n3k.unionByName(plain)

    # cpus (:283-305): keep ids present in BOTH names and relpos
    cpus = (
        remap("cpu")
        .join(names.withColumnRenamed("eid", "mid"), ["device_id", "mid"])
        .join(relpos_by_mid, ["device_id", "mid"])
        .select(
            "device_id", "mid", F.col("name").alias("cpu_name"),
            F.concat(F.lit("Module "), "relpos").alias("cpu_no"),
        )
        .persist()
    )

    # memory (:219-267): used + free on the mapped id; type from relpos
    memory = (
        remap("mem_used").withColumnRenamed("value", "used")
        .join(
            remap("mem_free").withColumnRenamed("value", "free"),
            ["device_id", "mid"],
        )
        .join(relpos_by_mid, ["device_id", "mid"])
        .withColumn("relpos_eid", F.col("relpos").cast("long"))
        .join(
            names.select(
                "device_id",
                F.col("eid").alias("relpos_eid"),
                F.col("name").alias("module_name"),
            ),
            ["device_id", "relpos_eid"],
            "left",
        )
        .select(
            "device_id", "mid",
            (F.col("used").cast("long") + F.col("free").cast("long"))
            .alias("memory_total"),
            F.when(
                F.col("module_name").isNotNull(),
                F.concat(
                    F.lit("Module "), "relpos", F.lit(" ("),
                    "module_name", F.lit(")"),
                ),
            ).otherwise(F.concat(F.lit("Module "), "relpos"))
            .alias("memory_type"),
        )
        .persist()
    )

    power = _power_supplies(tagged, names).persist()
    temps = _temp_sensors(tagged, names).select(
        "device_id", "eid",
        F.pow(F.lit(10.0), F.col("exponent")).alias("scale_value"),
        "sensor_name",
    ).persist()

    mid, eid = F.col("mid").cast("string"), F.col("eid").cast("string")
    frags = [
        _frag(cpus, "cpu_name", mid, "cpu_name"),
        _frag(cpus, "cpu_no", mid, "cpu_no"),
        _frag(memory, "memory_type", mid, "memory_type"),
        _frag(memory, "memory_total", mid, "memory_total"),
        _frag(power, "power_supplies", eid, "name"),
        _frag(temps, "temp_sensor_name", eid, "sensor_name"),
        _frag(temps, "temp_sensor_scales", eid, "scale_value"),
        _count_frag(_table(tagged, "fan"), "_n_fans"),
        _count_frag(power, "_n_power"),
        # n3k devices emit the inverse table as index_transform; others '{}'
        _frag(
            inverse.join(flags.where("n3k"), "device_id", "left_semi"),
            "index_transform",
            F.col("relkey").cast("string"),
            F.col("min_eid").cast("string"),
        ),
    ]
    oids = [
        "cpu_name",
        "cpu_no",
        ("cpu_util", _bulk(cpu_oid, "index_transform")),
        "memory_type",
        ("memory_used", _bulk(CPM_CPU_MEMORY_USED, "index_transform")),
        "memory_total",
        ("cefc_fru_fan", _bulk(CEFC_FANTRAY_STATUS)),
        ("entity_fru_control", _bulk(CEFC_FRU_POWER_STATUS)),
        "power_supplies",
        ("ent_sensor_values", _bulk(ENT_SENSOR_VALUES)),
        "temp_sensor_scales",
        "temp_sensor_name",
    ]
    groups = _groups(
        _NXOS_TEMP_GROUP,
        _splice_count(_NXOS_FANS_GROUP, _count_of("_n_fans")),
        _splice_count(_NXOS_POWER_GROUP, _count_of("_n_power")),
        _CISCO_CPU_GROUP,
        F.lit(json.dumps(_CISCO_MEMORY_GROUP).replace("memory_name", "memory_type")),
    )
    return _assemble(flags, frags, oids, groups)


# ---------------------------------------------------------------------------
# Aruba device + WAP, Ciena Waveserver device + light, Cisco ASA — the
# remaining generic-SNMP enrichment family members. No reference goldens
# exist for these; verified by hand-computed differentials in
# tests/test_device_enrichment_family.py.
# ---------------------------------------------------------------------------

ARUBA_PREFIX = ".1.3.6.1.4.1.14823"
ARUBA_CPU_LOAD = ARUBA_PREFIX + ".2.2.1.2.1.13.1.3"
ARUBA_CPU_DESCR = ARUBA_PREFIX + ".2.2.1.2.1.13.1.2"
ARUBA_MEM_TOTAL = ARUBA_PREFIX + ".2.2.1.1.1.11.1.2.1"
ARUBA_MEM_USED = ARUBA_PREFIX + ".2.2.1.1.1.11.1.3.1"
ARUBA_INT_TEMP = ARUBA_PREFIX + ".2.2.1.2.1.10.0"
ARUBA_FAN_STATUS = ARUBA_PREFIX + ".2.2.1.2.1.17.1.2"
ARUBA_PSU_STATUS = ARUBA_PREFIX + ".2.2.1.2.1.18.1.2"

_ARUBA_CPU_GROUP = _CISCO_CPU_GROUP  # identical template (aruba :133-147)
_ARUBA_MEMORY_GROUP_PRE = {
    "group_name": "memory",
    "dimensions": {"memory_type": "'dram'"},
    "metrics": {
        "memory_used": {"metric_type": "gauge", "value": "memory_used"},
        "memory_total": {"metric_type": "gauge", "value": "__N__"},
    },
}
_ARUBA_TEMP_GROUP = {
    "group_name": "environment",
    "dimensions": {"sensor": "'internal'"},
    "metrics": {
        "temperature_fahrenheit": {
            "metric_type": "gauge",
            "type": "string",
            "transform":
                "lambda x: round((float(x.split(' ')[0]) * 1.8) + 32,2)",
            "value": "temperature",
        }
    },
}
_ARUBA_FANS_GROUP = {
    "group_name": "environment",
    "dimensions": {},
    "metrics": {
        "fans_ok": {
            "metric_type": "gauge",
            "value": "len([x for x in fan_statuses.values() if x == '1'])",
        },
        "fans_total": "__N__",
    },
}
_ARUBA_POWER_GROUP = {
    "group_name": "environment",
    "dimensions": {},
    "metrics": {
        "power_units_on": {
            "metric_type": "gauge",
            "value": "len([x for x in power_status.values() if x == '1'])",
        },
        "power_units_total": "__N__",
    },
}


def aruba_device_enrichment(
    spark: SparkSession, walk: DataFrame, devices: DataFrame
) -> DataFrame:
    """Aruba device-metrics enrichment builder
    (plugin_enrichment_aruba_device_metrics.py:22-227): processor
    load/descr walks, a scalar memory-total get baked into the program
    as a literal, string-typed internal temperature, conditional
    fan/power groups."""
    tables = {
        "cpu_descr": ARUBA_CPU_DESCR,
        "cpu_load": ARUBA_CPU_LOAD,
        "fan": ARUBA_FAN_STATUS,
        "psu": ARUBA_PSU_STATUS,
    }
    tagged = slice_walk(walk, tables).persist()

    names = _table(tagged, "cpu_descr").select(
        "device_id", F.col("index").alias("cpu_id"),
        F.col("value").alias("cpu_name"),
    )
    cpus = (
        _table(tagged, "cpu_load")
        .select("device_id", _last_index().alias("cpu_id"))
        .join(names, ["device_id", "cpu_id"])
    )
    # a scalar get, not a walk: read straight from the walk rows
    mem_total = walk.where(F.col("oid") == ARUBA_MEM_TOTAL.lstrip(".")).select(
        "device_id", F.lit("_mem_total").alias("frag_name"),
        F.col("value").alias("frag"),
    )
    frags = [
        _frag(cpus, "cpu_name", "cpu_id", "cpu_name"),
        _frag(cpus, "cpu_no", "cpu_id", F.concat(F.lit("Module "), "cpu_id")),
        _count_frag(_table(tagged, "fan"), "_n_fans"),
        _count_frag(_table(tagged, "psu"), "_n_psu"),
        mem_total,
    ]
    oids = [
        "cpu_name",
        "cpu_no",
        ("cpu_util", _bulk(ARUBA_CPU_LOAD)),
        ("memory_used", _get(ARUBA_MEM_USED)),
        ("fan_statuses", _bulk(ARUBA_FAN_STATUS)),
        ("temperature", _get(ARUBA_INT_TEMP)),
        ("power_status", _bulk(ARUBA_PSU_STATUS)),
    ]
    n_fans, n_psu = _count_of("_n_fans"), _count_of("_n_psu")
    groups = _groups(
        _ARUBA_CPU_GROUP,
        # memory_total is baked into the program as an integer literal
        _splice_count(_ARUBA_MEMORY_GROUP_PRE, _count_of("_mem_total", "long")),
        _ARUBA_TEMP_GROUP,
        F.when(n_fans > 0, _splice_count(_ARUBA_FANS_GROUP, n_fans)),
        F.when(n_psu > 0, _splice_count(_ARUBA_POWER_GROUP, n_psu)),
    )
    return _assemble(devices.select("device_id"), frags, oids, groups)


CIENA_FAN_STATE = ".1.3.6.1.4.1.1271.3.4.6.25.1.3"
CIENA_PSU_STATE = ".1.3.6.1.4.1.1271.3.4.6.21.1.3"
_CIENA_FANS_GROUP = {
    "group_name": "environment",
    "dimensions": {},
    "metrics": {
        "fans_ok": {
            "metric_type": "gauge",
            "value": "len([x for x in fan_status.values() if x == '1'])",
        },
        "fans_total": "__N__",
    },
}
_CIENA_POWER_GROUP = {
    "group_name": "environment",
    "dimensions": {},
    "metrics": {
        "power_units_on": {
            "metric_type": "gauge",
            "value": "len([x for x in power_status.values() if x == '1'])",
        },
        "power_units_total": "__N__",
    },
}


def ciena_ws_device_enrichment(
    spark: SparkSession, walk: DataFrame, devices: DataFrame
) -> DataFrame:
    """Ciena Waveserver device-metrics builder
    (plugin_enrichment_cienaws_device_metrics.py:22-112): chassis
    fan/PSU operational-state counts with conditional groups."""
    tagged = slice_walk(walk, {"fan": CIENA_FAN_STATE, "psu": CIENA_PSU_STATE})
    frags = [
        _count_frag(_table(tagged, "fan"), "_n_fans"),
        _count_frag(_table(tagged, "psu"), "_n_psu"),
    ]
    oids = [
        ("fan_status", _bulk(CIENA_FAN_STATE)),
        ("power_status", _bulk(CIENA_PSU_STATE)),
    ]
    n_fans, n_psu = _count_of("_n_fans"), _count_of("_n_psu")
    groups = _groups(
        F.when(n_fans > 0, _splice_count(_CIENA_FANS_GROUP, n_fans)),
        F.when(n_psu > 0, _splice_count(_CIENA_POWER_GROUP, n_psu)),
    )
    return _assemble(devices.select("device_id"), frags, oids, groups)


CIENA_PORT_NAME = ".1.3.6.1.4.1.1271.3.4.7.4.1.2"
CIENA_XCVR_TYPE = ".1.3.6.1.4.1.1271.3.4.8.6.1.2"
CIENA_XCVR_RX = ".1.3.6.1.4.1.1271.3.4.8.11.1.2"
CIENA_XCVR_TX = ".1.3.6.1.4.1.1271.3.4.8.13.1.2"

_CIENA_LIGHT_GROUP = {
    "group_name": "light_levels",
    "dimensions": {},
    "metrics": {
        "xcvr_interfaces": {
            "metric_type": "gauge",
            "value": "xcvr_interfaces.$index",
        },
        "rx_light_level": {
            "metric_type": "gauge",
            "value": "rx_light_level.$index",
        },
        "tx_light_level": {
            "metric_type": "gauge",
            "value": "tx_light_level.$index",
        },
    },
}


def ciena_ws_light_enrichment(
    spark: SparkSession, walk: DataFrame, devices: DataFrame
) -> DataFrame:
    """Ciena Waveserver transceiver light-level builder
    (plugin_enrichment_cienaws_light_metrics.py:14-137): ports whose
    XcvrType is '4' form the transceiver universe; rx/tx dBm tables
    (raw/10, keyed by port NAME, last row wins) ride in the oids map
    alongside their walk OIDs, exactly like the reference's
    values+oid hybrid entries.

    The reference sub-walks ``<rx_oid>.<index.strip('.0')>`` per port —
    ``str.strip`` trims '.' AND '0' from both ends (so index '10'
    becomes '1'); preserved here as a trim-chain expression."""
    tables = {
        "name": CIENA_PORT_NAME,
        "xtype": CIENA_XCVR_TYPE,
        "rx": CIENA_XCVR_RX,
        "tx": CIENA_XCVR_TX,
    }
    tagged = slice_walk(walk, tables).persist()

    xcvr = (
        _table(tagged, "xtype").where(F.col("value") == "4")
        .select("device_id", "index")
        .join(_table(tagged, "name"), ["device_id", "index"])
        .select("device_id", "index", F.col("value").alias("port_name"))
        # python str.strip('.0') trims both chars from both ends
        .withColumn(
            "walk_key",
            F.expr(r"regexp_replace(regexp_replace(index,"
                   r" '^[.0]+', ''), '[.0]+$', '')"),
        )
        .persist()
    )

    def light(table: str, name: str) -> DataFrame:
        vals = _table(tagged, table).select(
            "device_id",
            F.col("index").alias("vidx"),
            (F.col("value").cast("double") / 10.0).alias("dbm"),
        )
        # sub-walk under <base>.<stripped index>: prefix or exact match
        joined = xcvr.join(vals, "device_id").where(
            (F.col("vidx") == F.col("walk_key"))
            | F.col("vidx").startswith(
                F.concat(F.col("walk_key"), F.lit("."))
            )
        )
        # dict insert order -> last row wins; walk rows ascend, so take
        # the max index per port name (deterministic stand-in)
        picked = joined.groupBy("device_id", "port_name").agg(
            F.max(F.struct(F.col("vidx"), F.col("dbm"))).alias("s")
        ).select("device_id", "port_name", F.col("s.dbm").alias("dbm"))
        return _frag(picked, name, "port_name", "dbm")

    frags = [
        _frag(xcvr, "xcvr_interfaces", "index", "port_name"),
        light("rx", "rx_light_level"),
        light("tx", "tx_light_level"),
    ]
    # values + oid hybrid entries, as the reference emits them
    oids = ["xcvr_interfaces"] + [
        (name, F.concat(
            F.lit('{"method": "bulk_walk", "oid": "' + oid + '", "values": '),
            _frag_of(name),
            F.lit("}"),
        ))
        for name, oid in [
            ("rx_light_level", CIENA_XCVR_RX), ("tx_light_level", CIENA_XCVR_TX)
        ]
    ]
    return _assemble(
        devices.select("device_id"), frags, oids, _groups(_CIENA_LIGHT_GROUP)
    )


ASA_MEM_POOL_NAME = ".1.3.6.1.4.1.9.9.221.1.1.1.1.3"
ASA_MEM_POOL_USED = ".1.3.6.1.4.1.9.9.221.1.1.1.1.18"
ASA_MEM_POOL_FREE = ".1.3.6.1.4.1.9.9.221.1.1.1.1.20"


def cisco_asa_device_enrichment(
    spark: SparkSession,
    walk: DataFrame,
    devices: DataFrame,
    polling_frequency: int = 300,
) -> DataFrame:
    """Cisco ASA 5500 device-metrics builder
    (plugin_enrichment_cisco_asa_device_metrics.py:44-247): CPU ids must
    be class-12 entities present in names AND relpos; memory via the
    enhanced-mempool name/used/free walks (id = last index element)."""
    cpu_oid = cisco_cpu_interval_oid(polling_frequency)
    tables = {
        "name": ENT_PHYSICAL_NAME,
        "pclass": ENT_PHYSICAL_CLASS,
        "relpos": ENT_PHYSICAL_RELPOS,
        "cpu": cpu_oid,
        "mem_name": ASA_MEM_POOL_NAME,
        "mem_used": ASA_MEM_POOL_USED,
        "mem_free": ASA_MEM_POOL_FREE,
    }
    tagged = slice_walk(walk, tables).persist()

    cpus = (
        _table(tagged, "cpu")
        .select("device_id", _last_index().cast("long").alias("eid"))
        .join(_by_eid(tagged, "name", "name"), ["device_id", "eid"])
        .join(_by_eid(tagged, "relpos").distinct(), ["device_id", "eid"])
        .join(
            _by_eid(tagged, "pclass", "cls").where(F.col("cls") == "12"),
            ["device_id", "eid"],
        )
        .select("device_id", "eid", F.col("name").alias("cpu_name"))
    )
    memory = _mem_pools(tagged)

    eid, mid = F.col("eid").cast("string"), F.col("mid").cast("string")
    frags = [
        _frag(cpus, "cpu_name", eid, "cpu_name"),
        _frag(cpus, "cpu_no", eid, F.concat(F.lit("Module "), eid)),
        _frag(memory, "memory_name", mid, "memory_name"),
        _frag(memory, "memory_total", mid, "memory_total"),
    ]
    oids = [
        "cpu_name",
        "cpu_no",
        ("cpu_util", _bulk(cpu_oid)),
        ("memory_used", _bulk(ASA_MEM_POOL_USED)),
        "memory_total",
        "memory_name",
    ]
    groups = _groups(_CISCO_CPU_GROUP, _CISCO_MEMORY_GROUP)
    return _assemble(devices.select("device_id"), frags, oids, groups)


ARUBA_WAP_NUM_USERS = ARUBA_PREFIX + ".2.2.1.4.1.1"
ARUBA_WAP_NUM_APS = ARUBA_PREFIX + ".2.2.1.1.3.1"
ARUBA_WAP_RADIO_CLIENTS = ARUBA_PREFIX + ".2.2.1.5.2.1.5.1.7"
ARUBA_WAP_RADIO_UTIL = ARUBA_PREFIX + ".2.2.1.5.2.1.5.1.6"
ARUBA_WAP_CH_STATIONS = ARUBA_PREFIX + ".2.2.1.5.3.1.6.1.2"
ARUBA_WAP_CH_NOISE = ARUBA_PREFIX + ".2.2.1.5.3.1.6.1.9"
ARUBA_WAP_CH_RX = ARUBA_PREFIX + ".2.2.1.5.3.1.6.1.35"
ARUBA_WAP_CH_TX = ARUBA_PREFIX + ".2.2.1.5.3.1.6.1.36"
ARUBA_WAP_CH_UTIL = ARUBA_PREFIX + ".2.2.1.5.3.1.6.1.37"
ARUBA_WAP_AP_IP = ARUBA_PREFIX + ".2.2.1.5.2.1.4.1.2"
ARUBA_WAP_AP_NAME = ARUBA_PREFIX + ".2.2.1.5.2.1.4.1.3"
ARUBA_WAP_AP_STATUS = ARUBA_PREFIX + ".2.2.1.5.2.1.4.1.19"

_WAP_USER_GROUP = {
    "group_name": "user",
    "dimensions": {},
    "metrics": {
        "number_of_users": {
            "metric_type": "gauge",
            "value": "controller_number_of_users.$index",
        }
    },
}
_WAP_AP_GROUP = {
    "group_name": "access_point",
    "dimensions": {
        "access_point_name": "access_point_name.$index",
        "access_point_ip": "access_point_ip.$index",
    },
    "metrics": {
        "access_point_status": {
            "metric_type": "gauge",
            "value": "access_point_status.$index",
        }
    },
}
_WAP_RADIO_GROUP = {
    "group_name": "radio",
    "dimensions": {"radio_name": "radio_index.$index"},
    "metrics": {
        "radio_utilization": {
            "metric_type": "gauge",
            "value": "radio_utilization.$index",
        },
        "number_of_radio_clients": {
            "metric_type": "gauge",
            "value": "radio_clients_number.$index",
        },
        "stations_per_channel": {
            "metric_type": "gauge",
            "value": "number_of_stations_per_channel.$index",
        },
        "channel_noise": {
            "metric_type": "gauge",
            "value": "channel_noise.$index",
        },
        "channel_rx_utilization": {
            "metric_type": "gauge",
            "value": "channel_rx_utilization.$index",
        },
        "channel_tx_utilization": {
            "metric_type": "gauge",
            "value": "channel_tx_utilization.$index",
        },
        "channel_utilization": {
            "metric_type": "gauge",
            "value": "channel_utilization.$index",
        },
    },
}


def aruba_wap_enrichment(
    spark: SparkSession, walk: DataFrame, devices: DataFrame
) -> DataFrame:
    """Aruba WLC access-point/radio enrichment builder
    (plugin_enrichment_aruba_wap_metrics.py:31-215): AP name/IP statics
    (the reference zips the two walks by position — their indices are
    identical in practice, so this joins on index), the per-AP radio
    index table emitted INVERTED ('<ap_index>.<1|2>' ->
    '<ap_name>.radio<1|2>'), and the controller AP count as a scalar
    static value (last walk row wins)."""
    tables = {
        "ap_ip": ARUBA_WAP_AP_IP,
        "ap_name": ARUBA_WAP_AP_NAME,
        "ap_count": ARUBA_WAP_NUM_APS,
    }
    tagged = slice_walk(walk, tables).persist()

    ap = _table(tagged, "ap_name").withColumnRenamed("value", "ap_name").join(
        _table(tagged, "ap_ip").withColumnRenamed("value", "ap_ip"),
        ["device_id", "index"],
    ).persist()
    radios = ap.select(
        "device_id",
        F.explode(F.array(F.lit("1"), F.lit("2"))).alias("radio_no"),
        "index",
        "ap_name",
    ).select(
        "device_id",
        F.concat("index", F.lit("."), "radio_no").alias("radio_key"),
        F.concat("ap_name", F.lit(".radio"), "radio_no").alias("radio_name"),
    )
    # 'last row wins' scalar: walk rows ascend -> max index
    ap_count = _table(tagged, "ap_count").groupBy("device_id").agg(
        F.lit("_ap_count").alias("frag_name"),
        F.max(F.struct(F.col("index"), F.col("value")))
        .getField("value").alias("frag"),
    )
    frags = [
        _frag(ap, "access_point_ip", "index", "ap_ip"),
        _frag(ap, "access_point_name", "index", "ap_name"),
        _frag(radios, "radio_index", "radio_key", "radio_name"),
        ap_count,
    ]
    oids = [
        ("controller_number_of_users", _bulk(ARUBA_WAP_NUM_USERS)),
        # the count is a JSON string, not an object
        ("number_of_access_point", _static(
            F.concat(F.lit('"'), _frag_of("_ap_count", "0"), F.lit('"'))
        )),
        "access_point_ip",
        "access_point_name",
        ("access_point_status", _bulk(ARUBA_WAP_AP_STATUS)),
        "radio_index",
        ("radio_clients_number", _bulk(ARUBA_WAP_RADIO_CLIENTS)),
        ("radio_utilization", _bulk(ARUBA_WAP_RADIO_UTIL)),
        ("number_of_stations_per_channel", _bulk(ARUBA_WAP_CH_STATIONS)),
        ("channel_noise", _bulk(ARUBA_WAP_CH_NOISE)),
        ("channel_rx_utilization", _bulk(ARUBA_WAP_CH_RX)),
        ("channel_tx_utilization", _bulk(ARUBA_WAP_CH_TX)),
        ("channel_utilization", _bulk(ARUBA_WAP_CH_UTIL)),
    ]
    groups = _groups(_WAP_USER_GROUP, _WAP_AP_GROUP, _WAP_RADIO_GROUP)
    return _assemble(devices.select("device_id"), frags, oids, groups)


# -- juniper SRX functional metrics (NAT / flow-session) ----------------

JNX_CHASSIS = ".1.3.6.1.4.1.2636"
SRX_SPU_TABLE = JNX_CHASSIS + ".3.39.1.12.1.1"
SRX_SPU_NODE_DESCR = SRX_SPU_TABLE + ".1.11"
SRX_SPU_CUR_FLOW = SRX_SPU_TABLE + ".1.6"
SRX_NAT_OBJECTS = JNX_CHASSIS + ".3.39.1.7.1.1"
SRX_NAT_POOL_NAME = SRX_NAT_OBJECTS + ".4.1.1"
SRX_NAT_PORT_INUSE = SRX_NAT_OBJECTS + ".4.1.5"
SRX_NAT_NUM_SESSIONS = SRX_NAT_OBJECTS + ".4.1.6"

# metrics_groups are UNconditional constants in the reference
# (plugin_enrichment_functional_metrics_juniper_srx.py:130-166)
_SRX_NAT_GROUP = {
    "group_name": "nat",
    "dimensions": {
        "source_pool_name": "source_pool_name.$index",
        "address": "nat_src_translated_address.$index",
    },
    "metrics": {
        "num_sessions": {
            "metric_type": "gauge",
            "value": "num_sessions.$index",
        },
        "ports_in_use": {
            "metric_type": "gauge",
            "value": "num_ports_in_use.$index",
        },
        "max_ports": {
            "metric_type": "gauge",
            "transform": "lambda x: 64512",
            "value": "num_ports_in_use.$index",
        },
    },
}
_SRX_SESSION_GROUP = {
    "group_name": "session",
    "dimensions": {},
    "metrics": {
        "current_session_flow": {
            "metric_type": "gauge",
            "value": "sum([int(x) for x in current_session_flow.values()])",
        }
    },
}


def juniper_srx_functional_enrichment(
    spark: SparkSession, walk: DataFrame, devices: DataFrame
) -> DataFrame:
    """Juniper SRX functional-metrics enrichment builder
    (plugin_enrichment_functional_metrics_juniper_srx.py:37-187):
    NAT source-pool statics come from the pool-name walk (index keeps
    the whole OID remainder; the translated address is the LAST FOUR
    index octets joined with '.', `_get_nat_source_pool_address` :49-51)
    plus the SPU node-description walk; flow/port/session counters ride
    as bulk_walk oids. The reference also walks MaxFlowSession but never
    places it in the oids map (`_session_enrichments` :63-67 is dead in
    the emitted enrichment) — mirrored here by NOT emitting it."""
    tables = {
        "pool_name": SRX_NAT_POOL_NAME,
        "node_descr": SRX_SPU_NODE_DESCR,
    }
    # not persisted, so each of the two table reads below re-reads the
    # walk; persisting it measured slower (SCALE.md "Build-time persists")
    tagged = slice_walk(walk, tables)

    pools = _table(tagged, "pool_name").withColumn(
        # last 4 dot-separated index elements -> translated IPv4
        "address",
        F.array_join(
            F.slice(F.split("index", r"\."), -4, 4), "."
        ),
    )
    frags = [
        _frag(pools, "source_pool_name", "index", "value"),
        _frag(pools, "nat_src_translated_address", "index", "address"),
        _frag(_table(tagged, "node_descr"), "monitoring_node_descriptions",
              "index", "value"),
    ]
    oids = [
        "source_pool_name",
        "nat_src_translated_address",
        "monitoring_node_descriptions",
        ("current_session_flow", _bulk(SRX_SPU_CUR_FLOW)),
        ("num_ports_in_use", _bulk(SRX_NAT_PORT_INUSE)),
        ("num_sessions", _bulk(SRX_NAT_NUM_SESSIONS)),
    ]
    return _assemble(
        devices.select("device_id"), frags, oids,
        _groups(_SRX_NAT_GROUP, _SRX_SESSION_GROUP),
        namespace="functional_metrics",
    )
