"""Hand-computed differentials for the generic-SNMP enrichment
builders. The reference ships no goldens for aruba device/WAP, ciena
waveserver device/light, cisco ASA and juniper SRX; juniper (disk arm),
cisco IOS, cisco NX-OS and BGP have goldens that only replay where the
reference corpus is present. Fixtures and expectations derive
line-by-line from the plugin sources."""

import json

import pytest

from panoptes_spark.operators import device_enrichment as de

DEV = "10.0.0.1"


def _walk(spark, rows):
    return spark.createDataFrame(
        [(DEV, oid.lstrip("."), v) for oid, v in rows],
        "device_id string, oid string, value string",
    )


def _devices(spark):
    return spark.createDataFrame([(DEV,)], "device_id string")


def _run(fn, spark, walk, **kw):
    out = fn(spark, walk, _devices(spark), **kw).collect()
    assert len(out) == 1
    return json.loads(out[0].enrichment)


def test_aruba_device_enrichment(spark):
    rows = [
        (de.ARUBA_CPU_DESCR + ".1", "Control Plane"),
        (de.ARUBA_CPU_DESCR + ".3", "Data Plane"),
        (de.ARUBA_CPU_LOAD + ".1", "12"),
        (de.ARUBA_CPU_LOAD + ".3", "40"),
        (de.ARUBA_MEM_TOTAL, "8388608"),
        (de.ARUBA_FAN_STATUS + ".1", "1"),
        (de.ARUBA_FAN_STATUS + ".2", "1"),
        (de.ARUBA_PSU_STATUS + ".1", "1"),
    ]
    got = _run(de.aruba_device_enrichment, spark, _walk(spark, rows))
    oids = got["oids"]
    assert oids["cpu_name"]["values"] == {
        "1": "Control Plane", "3": "Data Plane"
    }
    assert oids["cpu_no"]["values"] == {"1": "Module 1", "3": "Module 3"}
    assert oids["memory_used"] == {
        "method": "get", "oid": de.ARUBA_MEM_USED
    }
    groups = {
        (g["group_name"], tuple(sorted(g["metrics"]))): g
        for g in got["metrics_groups"]
    }
    mem = groups[("memory", ("memory_total", "memory_used"))]
    # literal int spliced into the program (plugin :158-161)
    assert mem["metrics"]["memory_total"] == {
        "metric_type": "gauge", "value": 8388608
    }
    fans = groups[("environment", ("fans_ok", "fans_total"))]
    assert fans["metrics"]["fans_total"] == 2
    power = groups[("environment", ("power_units_on", "power_units_total"))]
    assert power["metrics"]["power_units_total"] == 1
    # temp group present with the string-transform program
    assert ("environment", ("temperature_fahrenheit",)) in groups


def test_aruba_device_no_fans_no_power_groups(spark):
    rows = [
        (de.ARUBA_CPU_DESCR + ".1", "Control Plane"),
        (de.ARUBA_CPU_LOAD + ".1", "12"),
        (de.ARUBA_MEM_TOTAL, "1024"),
    ]
    got = _run(de.aruba_device_enrichment, spark, _walk(spark, rows))
    names = [g["group_name"] for g in got["metrics_groups"]]
    assert names.count("environment") == 1  # only the temp group


def test_aruba_wap_enrichment(spark):
    rows = [
        (de.ARUBA_WAP_AP_IP + ".1.2.3", "192.168.1.10"),
        (de.ARUBA_WAP_AP_NAME + ".1.2.3", "ap-lobby"),
        (de.ARUBA_WAP_NUM_APS + ".0", "7"),
    ]
    got = _run(de.aruba_wap_enrichment, spark, _walk(spark, rows))
    oids = got["oids"]
    assert oids["access_point_ip"]["values"] == {"1.2.3": "192.168.1.10"}
    assert oids["access_point_name"]["values"] == {"1.2.3": "ap-lobby"}
    # inverted radio table: '<ap_index>.<radio>' -> '<name>.radio<radio>'
    assert oids["radio_index"]["values"] == {
        "1.2.3.1": "ap-lobby.radio1",
        "1.2.3.2": "ap-lobby.radio2",
    }
    assert oids["number_of_access_point"]["values"] == "7"
    assert [g["group_name"] for g in got["metrics_groups"]] == [
        "user", "access_point", "radio"
    ]


def test_ciena_ws_device_enrichment(spark):
    rows = [
        (de.CIENA_FAN_STATE + ".1", "1"),
        (de.CIENA_FAN_STATE + ".2", "1"),
        (de.CIENA_FAN_STATE + ".3", "2"),
        (de.CIENA_PSU_STATE + ".1", "1"),
    ]
    got = _run(de.ciena_ws_device_enrichment, spark, _walk(spark, rows))
    fans, power = got["metrics_groups"]
    assert fans["metrics"]["fans_total"] == 3
    assert power["metrics"]["power_units_total"] == 1

    # no PSUs -> power group omitted entirely (conditional append)
    got2 = _run(
        de.ciena_ws_device_enrichment, spark,
        _walk(spark, rows[:3]),
    )
    assert len(got2["metrics_groups"]) == 1


def test_ciena_ws_light_enrichment(spark):
    rows = [
        (de.CIENA_XCVR_TYPE + ".1.0", "4"),   # transceiver
        (de.CIENA_XCVR_TYPE + ".2.0", "1"),   # not a transceiver
        (de.CIENA_PORT_NAME + ".1.0", "1-1"),
        (de.CIENA_PORT_NAME + ".2.0", "2-1"),
        # sub-walk under <rx>.<index.strip('.0')> = <rx>.1
        (de.CIENA_XCVR_RX + ".1.1", "-55"),
        (de.CIENA_XCVR_TX + ".1.1", "12"),
    ]
    got = _run(de.ciena_ws_light_enrichment, spark, _walk(spark, rows))
    oids = got["oids"]
    assert oids["xcvr_interfaces"]["values"] == {"1.0": "1-1"}
    assert oids["rx_light_level"]["values"] == {"1-1": -5.5}
    assert oids["tx_light_level"]["values"] == {"1-1": 1.2}
    assert oids["rx_light_level"]["oid"] == de.CIENA_XCVR_RX
    [group] = got["metrics_groups"]
    assert group["group_name"] == "light_levels"


def test_cisco_asa_enrichment(spark):
    ENT = "1.3.6.1.2.1.47.1.1.1.1"
    rows = [
        (f".{ENT}.7.11", "CPU module"),
        (f".{ENT}.5.11", "12"),
        (f".{ENT}.6.11", "1"),
        (f".{ENT}.7.12", "Not a CPU"),   # wrong class -> excluded
        (f".{ENT}.5.12", "9"),
        (f".{ENT}.6.12", "2"),
        # cpu walk at 5min (freq 300); last index element = entity id
        (".1.3.6.1.4.1.9.9.109.1.1.1.1.8.7.11", "33"),
        (".1.3.6.1.4.1.9.9.109.1.1.1.1.8.7.12", "44"),
        (de.ASA_MEM_POOL_NAME + ".6.1", "System memory"),
        (de.ASA_MEM_POOL_USED + ".6.1", "100"),
        (de.ASA_MEM_POOL_FREE + ".6.1", "300"),
    ]
    got = _run(
        de.cisco_asa_device_enrichment, spark, _walk(spark, rows),
        polling_frequency=300,
    )
    oids = got["oids"]
    assert oids["cpu_name"]["values"] == {"11": "CPU module"}
    assert oids["cpu_no"]["values"] == {"11": "Module 11"}
    assert oids["memory_name"]["values"] == {"1": "System memory"}
    assert oids["memory_total"]["values"] == {"1": 400}
    assert oids["cpu_util"]["oid"].endswith(".109.1.1.1.1.8")
    assert [g["group_name"] for g in got["metrics_groups"]] == [
        "cpu", "memory"
    ]


def test_juniper_srx_functional_enrichment(spark):
    """SRX functional metrics (NAT/session): statics from the pool-name
    and node-descr walks; the translated address is the LAST FOUR index
    octets (plugin :49-51); groups are unconditional constants
    (:130-166); MaxFlowSession is walked but never emitted (:63-67)."""
    POOL = de.SRX_NAT_POOL_NAME
    DESCR = de.SRX_SPU_NODE_DESCR
    rows = [
        # index = <pool id>.<4-octet address>
        (POOL + ".6.4.112.10.1.2.3", "src-pool-a"),
        (POOL + ".6.4.112.10.1.2.4", "src-pool-b"),
        (DESCR + ".0", "node0"),
        (DESCR + ".1", "node1"),
        # walked counters do NOT contribute statics
        (de.SRX_SPU_CUR_FLOW + ".0", "1234"),
        (de.SRX_NAT_NUM_SESSIONS + ".6.4.112.10.1.2.3", "7"),
    ]
    out = de.juniper_srx_functional_enrichment(
        spark, _walk(spark, rows), _devices(spark)
    ).collect()
    assert len(out) == 1
    assert out[0].namespace == "functional_metrics"
    got = json.loads(out[0].enrichment)
    oids = got["oids"]
    assert oids["source_pool_name"]["values"] == {
        "6.4.112.10.1.2.3": "src-pool-a",
        "6.4.112.10.1.2.4": "src-pool-b",
    }
    assert oids["nat_src_translated_address"]["values"] == {
        "6.4.112.10.1.2.3": "10.1.2.3",
        "6.4.112.10.1.2.4": "10.1.2.4",
    }
    assert oids["monitoring_node_descriptions"]["values"] == {
        "0": "node0", "1": "node1"
    }
    assert oids["current_session_flow"] == {
        "method": "bulk_walk", "oid": de.SRX_SPU_CUR_FLOW
    }
    assert oids["num_ports_in_use"] == {
        "method": "bulk_walk", "oid": de.SRX_NAT_PORT_INUSE
    }
    assert oids["num_sessions"] == {
        "method": "bulk_walk", "oid": de.SRX_NAT_NUM_SESSIONS
    }
    # MaxFlowSession must not appear anywhere in the program
    assert "max_flow" not in out[0].enrichment
    assert de.SRX_SPU_TABLE + ".1.7" not in out[0].enrichment
    groups = {g["group_name"]: g for g in got["metrics_groups"]}
    assert set(groups) == {"nat", "session"}
    nat = groups["nat"]
    assert nat["dimensions"] == {
        "source_pool_name": "source_pool_name.$index",
        "address": "nat_src_translated_address.$index",
    }
    assert nat["metrics"]["max_ports"] == {
        "metric_type": "gauge",
        "transform": "lambda x: 64512",
        "value": "num_ports_in_use.$index",
    }
    assert groups["session"]["metrics"]["current_session_flow"][
        "value"
    ] == "sum([int(x) for x in current_session_flow.values()])"


def test_juniper_srx_functional_no_pools(spark):
    """A device with no NAT pools still gets the full program shape —
    empty statics, same unconditional groups."""
    rows = [(de.SRX_SPU_CUR_FLOW + ".0", "99")]
    got = _run(
        de.juniper_srx_functional_enrichment, spark, _walk(spark, rows)
    )
    assert got["oids"]["source_pool_name"]["values"] == {}
    assert got["oids"]["nat_src_translated_address"]["values"] == {}
    assert got["oids"]["monitoring_node_descriptions"]["values"] == {}
    assert [g["group_name"] for g in got["metrics_groups"]] == [
        "nat", "session"
    ]


# -- the four builders whose only other tests replay reference goldens --
# (tests/test_golden_device_enrichment.py skips where /root/reference is
# absent). Expectations below are hand-derived from the plugin sources.

ENT = ".1.3.6.1.2.1.47.1.1.1.1"


def _model_devices(spark, model):
    return spark.createDataFrame([(DEV, model)], "device_id string, model string")


def _run_model(fn, spark, rows, model, **kw):
    out = fn(spark, _walk(spark, rows), _model_devices(spark, model), **kw)
    out = out.collect()
    assert len(out) == 1
    assert out[0].namespace == "metrics"
    return json.loads(out[0].enrichment)


def _groups_by_metrics(got):
    return {tuple(sorted(g["metrics"])): g for g in got["metrics_groups"]}


def test_juniper_include_disk(spark):
    rows = [
        (de.JNX_DESCR + ".9.1.0.0", "Routing Engine 0"),
        (de.JNX_DESCR + ".7.1.0.0", "FPC: EX4300 @ 0/*/*"),
        (de.JNX_DESCR + ".4.1.1.0", "Fan Tray 0 Fan 1"),
        (de.JNX_DESCR + ".4.1.2.0", "Fan Tray 0 Fan 2"),
        (de.JNX_DESCR + ".2.1.0.0", "PEM 0"),
        (de.JNX_DESCR + ".2.2.0.0", "PSM 3"),
        (de.JNX_DESCR + ".1.1.0.0", "midplane"),
        # 5-minute load average at polling_frequency 300
        (de.JNX_CPU_5MIN + ".9.1.0.0", "5"),
        (de.JNX_CPU_5MIN + ".7.1.0.0", "3"),
        (de.JNX_CPU_5MIN + ".1.1.0.0", "0"),    # midplane: not a cpu name
        (de.JNX_TEMP + ".9.1.0.0", "45"),
        (de.JNX_TEMP + ".7.1.0.0", "0"),        # not > 0
        (de.JNX_TEMP + ".1.1.0.0", "2000"),     # above the melting point
        (de.JNX_MEMORY + ".9.1.0.0", "2048"),   # MB
        (de.JNX_MEMORY + ".7.1.0.0", "0"),      # zero total: dropped
        (de.HR_STORAGE_DESCR + ".1", "/dev/gpt/junos"),
        (de.HR_STORAGE_DESCR + ".2", "/tmp"),
        (de.HR_STORAGE_TYPE + ".1", "1.3.6.1.2.1.25.2.1.4"),
        (de.HR_STORAGE_TYPE + ".2", "1.3.6.1.2.1.25.2.1.99"),
        (de.HR_STORAGE_UNITS + ".1", "2048"),
        (de.HR_STORAGE_UNITS + ".2", "4096"),
        (de.HR_STORAGE_SIZE + ".1", "100"),
        (de.HR_STORAGE_SIZE + ".2", "10"),
    ]
    got = _run_model(
        de.juniper_device_enrichment, spark, rows, "MX480",
        polling_frequency=300, include_disk=True,
    )
    oids = got["oids"]
    assert list(oids) == [
        "cpu_name", "cpu_no", "cpu_util", "memory_used", "memory_total",
        "oper_status", "fans", "power_modules", "power_module_types",
        "power_units_total", "temp_sensor_values", "temp_sensor_name",
        "storage_description", "storage_type",
        "storage_allocation_failures", "storage_allocation_units",
        "storage_used_bytes", "storage_total_bytes",
    ]
    assert oids["cpu_name"]["values"] == {
        "9.1.0.0": "Routing Engine 0", "7.1.0.0": "FPC: EX4300 @ 0/*/*",
    }
    assert oids["cpu_no"]["values"] == {
        "9.1.0.0": "Module 9.1.0.0", "7.1.0.0": "Module 7.1.0.0",
    }
    assert oids["cpu_util"] == {"method": "bulk_walk", "oid": de.JNX_CPU_5MIN}
    assert oids["memory_total"]["values"] == {"9.1.0.0": 2048 * 2**20}
    assert oids["temp_sensor_name"]["values"] == {"9.1.0.0": "Routing Engine 0"}
    assert oids["fans"]["values"] == {
        "4.1.1.0": "Fan Tray 0 Fan 1", "4.1.2.0": "Fan Tray 0 Fan 2",
    }
    assert oids["power_modules"]["values"] == {
        "2.1.0.0": "PEM 0", "2.2.0.0": "PSM 3",
    }
    # per-index types plus the identity rows the plugin appends
    assert oids["power_module_types"]["values"] == {
        "2.1.0.0": "PEM", "2.2.0.0": "PSM", "PEM": "PEM", "PSM": "PSM",
    }
    assert oids["power_units_total"]["values"] == {"PEM": 1, "PSM": 1}
    assert oids["storage_description"]["values"] == {
        "1": "/dev/gpt/junos", "2": "/tmp",
    }
    assert oids["storage_type"]["values"] == {
        "1": "hrStorageFixedDisk", "2": "unknown",
    }
    assert oids["storage_allocation_units"]["values"] == {"1": 2048, "2": 4096}
    assert oids["storage_total_bytes"]["values"] == {
        "1": 100 * 2048, "2": 10 * 4096,
    }
    assert oids["storage_used_bytes"] == {
        "method": "bulk_walk", "oid": de.HR_STORAGE_USED,
    }
    groups = [g["group_name"] for g in got["metrics_groups"]]
    assert groups == [
        "environment", "cpu", "memory", "environment", "environment", "disk"
    ]
    fans = _groups_by_metrics(got)[("fans_ok", "fans_total")]
    assert fans["metrics"]["fans_total"] == 2

    # the EX4300 model only swaps the reported cpu_util OID
    ex = _run_model(
        de.juniper_device_enrichment, spark, rows, "EX4300-48P",
        polling_frequency=300, include_disk=True,
    )
    assert ex["oids"]["cpu_util"]["oid"] == de.JNX_CPU
    assert ex["oids"]["cpu_name"] == oids["cpu_name"]


def _cisco_ios_rows(extra=()):
    return [
        (f"{ENT}.7.1", "Chassis"),
        (f"{ENT}.7.1000", "Switch 1 Supervisor"),
        (f"{ENT}.7.1010", "Power Supply 1"),
        (f"{ENT}.7.1011", "Power Supply 2"),
        (f"{ENT}.7.2001", "Inlet celsius"),
        (f"{ENT}.6.1", "-1"),
        (f"{ENT}.6.1000", "1"),
        (f"{ENT}.5.1", "3"),
        (f"{ENT}.5.1000", "9"),
        (f"{ENT}.5.1010", "6"),
        (f"{ENT}.5.1011", "6"),
        # cpmCPUTotal5minRev (freq 300): cpu id = last index element
        (de.CPM_CPU_5MIN + ".1000", "12"),
        (de.CPM_CPU_5MIN + ".5", "7"),          # no entity: dropped
        (de.CISCO_MEM_POOL_NAME + ".1", "Processor"),
        (de.CISCO_MEM_POOL_NAME + ".2", "I/O"),
        (de.CISCO_MEM_POOL_USED + ".1", "100"),
        (de.CISCO_MEM_POOL_USED + ".2", "10"),
        (de.CISCO_MEM_POOL_FREE + ".1", "300"),
        (de.CISCO_MEM_POOL_FREE + ".2", "20"),
        (de.CEFC_FANTRAY_STATUS + ".20", "2"),
        (de.CEFC_FANTRAY_STATUS + ".21", "2"),
        (de.CEFC_FANTRAY_STATUS + ".22", "3"),
        (de.ENVMON_FAN_STATE + ".1004", "1"),
        (de.ENT_SENSOR_TYPE + ".2001", "8"),
        (de.ENT_SENSOR_TYPE + ".2002", "8"),
        (de.ENT_SENSOR_TYPE + ".2003", "7"),    # not a temperature
        (de.ENT_SENSOR_SCALES + ".2001", "9"),  # units: 10^0
        (de.ENT_SENSOR_SCALES + ".2002", "8"),  # milli: 10^-3
        (de.ENT_SENSOR_SCALES + ".2003", "9"),
        *extra,
    ]


def test_cisco_ios_standard_model(spark):
    got = _run_model(
        de.cisco_ios_device_enrichment, spark, _cisco_ios_rows(), "C9300-48P",
        polling_frequency=300,
    )
    oids = got["oids"]
    assert oids == {
        "cpu_name": {"method": "static",
                     "values": {"1000": "Switch 1 Supervisor"}},
        "cpu_no": {"method": "static", "values": {"1000": "Module 1000"}},
        "cpu_util": {"method": "bulk_walk", "oid": de.CPM_CPU_5MIN},
        "memory_used": {"method": "bulk_walk", "oid": de.CISCO_MEM_POOL_USED},
        "memory_total": {"method": "static", "values": {"1": 400, "2": 30}},
        "memory_name": {"method": "static",
                        "values": {"1": "Processor", "2": "I/O"}},
        "fan_statuses": {"method": "bulk_walk", "oid": de.CEFC_FANTRAY_STATUS},
        "entity_fru_control": {"method": "bulk_walk",
                               "oid": de.CEFC_FRU_POWER_STATUS},
        "power_status": {"method": "bulk_walk", "oid": de.ENVMON_SUPPLY_STATE},
        "power_supplies": {"method": "static", "values": {
            "1010": "Power Supply 1", "1011": "Power Supply 2",
        }},
        "ent_sensor_values": {"method": "bulk_walk",
                              "oid": de.ENT_SENSOR_VALUES},
        "temp_sensor_scales": {"method": "static",
                               "values": {"2001": 1.0, "2002": 0.001}},
        "temp_sensor_name": {"method": "static", "values": {
            "2001": "Inlet fahrenheit", "2002": "",
        }},
    }
    fans, power, cpu, memory, temp = got["metrics_groups"]
    # cefcFanTrayOperStatus counts and semantics (3 trays, ok == '2')
    assert fans["metrics"]["fans_total"] == 3
    assert "x == '2'" in fans["metrics"]["fans_ok"]["value"]
    assert power["metrics"]["power_units_total"] == 2
    assert "entity_fru_control" in power["metrics"]["power_units_on"]["value"]
    assert (cpu["group_name"], memory["group_name"]) == ("cpu", "memory")
    assert memory["dimensions"] == {"memory_type": "memory_name.$index"}
    assert temp["metrics"]["temperature_fahrenheit"]["indices_from"] == (
        "temp_sensor_scales"
    )


def test_cisco_ios_3560_model(spark):
    rows = _cisco_ios_rows(extra=[
        # 3560 reverse lookup: the entity NAMED '1000' -> its descr
        (f"{ENT}.7.1001", "1000"),
        (f"{ENT}.7.1002", "1000"),  # later duplicate: smallest id wins
        (f"{ENT}.2.1001", "WS-C3560G CPU"),
        (f"{ENT}.2.1002", "other CPU"),
    ])
    got = _run_model(
        de.cisco_ios_device_enrichment, spark, rows, "3560G-48TS-S",
        polling_frequency=300,
    )
    oids = got["oids"]
    assert oids["cpu_name"]["values"] == {"1000": "WS-C3560G CPU"}
    assert oids["cpu_no"]["values"] == {"1000": "Module 1000"}
    # ENV-MON fan table, no temperature keys or group on 3560s
    assert oids["fan_statuses"]["oid"] == de.ENVMON_FAN_STATE
    assert "temp_sensor_scales" not in oids
    assert "temp_sensor_name" not in oids
    fans, power, cpu, memory = got["metrics_groups"]
    assert fans["metrics"]["fans_total"] == 1
    assert "['1', '2', '3']" in fans["metrics"]["fans_ok"]["value"]
    assert power["metrics"]["power_units_total"] == 2
    assert "power_status.items()" in power["metrics"]["power_units_on"]["value"]
    assert [cpu["group_name"], memory["group_name"]] == ["cpu", "memory"]


def test_cisco_ios_env_mon_model(spark):
    got = _run_model(
        de.cisco_ios_device_enrichment, spark, _cisco_ios_rows(), "6509-E",
        polling_frequency=300,
    )
    oids = got["oids"]
    # standard cpu path, ENV-MON fan walk, FRU power semantics
    assert oids["cpu_name"]["values"] == {"1000": "Switch 1 Supervisor"}
    assert oids["fan_statuses"]["oid"] == de.ENVMON_FAN_STATE
    assert oids["temp_sensor_scales"]["values"] == {"2001": 1.0, "2002": 0.001}
    fans, power, _cpu, _memory, _temp = got["metrics_groups"]
    assert fans["metrics"]["fans_total"] == 1
    assert "['1', '2', '3']" in fans["metrics"]["fans_ok"]["value"]
    assert "entity_fru_control" in power["metrics"]["power_units_on"]["value"]


def test_cisco_ios_49xx_scale_bug(spark):
    got = _run_model(
        de.cisco_ios_device_enrichment, spark, _cisco_ios_rows(), "4948E",
        polling_frequency=60,
    )
    oids = got["oids"]
    # 49xx models report one decade too high: exponent - 1
    assert oids["temp_sensor_scales"]["values"] == {
        "2001": 0.1, "2002": 0.0001
    }
    assert oids["fan_statuses"]["oid"] == de.CEFC_FANTRAY_STATUS
    # polling_frequency 60 walks the 1-minute column
    assert oids["cpu_util"]["oid"] == de.CPM_CPU_1MIN
    assert oids["cpu_name"]["values"] == {}


def _nxos_rows():
    return [
        (f"{ENT}.7.1", "chassis"),
        (f"{ENT}.7.22", "supervisor"),
        (f"{ENT}.7.23", "Power Supply 1"),
        (f"{ENT}.7.470", "temp sensor celsius"),
        (f"{ENT}.6.1", "-1"),
        (f"{ENT}.6.22", "1"),
        (f"{ENT}.6.23", "1"),
        (f"{ENT}.6.470", "0"),
        (f"{ENT}.5.23", "6"),
        (de.CPM_CPU_5MIN + ".1", "7"),
        (de.CPM_CPU_MEMORY_USED + ".1", "100"),
        (de.CPM_CPU_MEMORY_FREE + ".1", "300"),
        (de.ENT_SENSOR_TYPE + ".470", "8"),
        (de.ENT_SENSOR_SCALES + ".470", "9"),
        (de.CEFC_FANTRAY_STATUS + ".534", "2"),
        (de.CEFC_FANTRAY_STATUS + ".535", "2"),
    ]


@pytest.mark.parametrize("model", ["3048", "3048T"])
def test_cisco_nxos_enrichment(spark, model):
    got = _run_model(
        de.cisco_nxos_device_enrichment, spark, _nxos_rows(), model,
        polling_frequency=300,
    )
    oids = got["oids"]
    if model == "3048T":
        # n3k: walk id 1 is module 1 -> smallest entity with relpos 1 (22)
        xform = {"-1": "1", "0": "470", "1": "22"}
        assert oids["cpu_name"]["values"] == {"22": "supervisor"}
        assert oids["cpu_no"]["values"] == {"22": "Module 1"}
        assert oids["memory_total"]["values"] == {"22": 400}
        assert oids["memory_type"]["values"] == {"22": "Module 1 (chassis)"}
    else:
        xform = {}
        assert oids["cpu_name"]["values"] == {"1": "chassis"}
        assert oids["cpu_no"]["values"] == {"1": "Module -1"}
        assert oids["memory_total"]["values"] == {"1": 400}
        assert oids["memory_type"]["values"] == {"1": "Module -1"}
    assert oids["cpu_util"] == {
        "method": "bulk_walk", "oid": de.CPM_CPU_5MIN, "index_transform": xform,
    }
    assert oids["memory_used"] == {
        "method": "bulk_walk", "oid": de.CPM_CPU_MEMORY_USED,
        "index_transform": xform,
    }
    assert oids["power_supplies"]["values"] == {"23": "Power Supply 1"}
    assert oids["temp_sensor_scales"]["values"] == {"470": 1.0}
    assert oids["temp_sensor_name"]["values"] == {"470": "temp sensor fahrenheit"}
    assert oids["cefc_fru_fan"] == {
        "method": "bulk_walk", "oid": de.CEFC_FANTRAY_STATUS,
    }
    temp, fans, power, cpu, memory = got["metrics_groups"]
    assert temp["dimensions"] == {"sensor": "temp_sensor_name.$index"}
    assert fans["metrics"]["fans_total"] == 2
    assert power["metrics"]["power_units_total"] == 1
    assert cpu["group_name"] == "cpu"
    assert memory["dimensions"] == {"memory_type": "memory_type.$index"}


def test_bgp_session_enrichment(spark):
    v4 = "0.1.10.0.0.1.1.10.0.0.2"
    local6 = [254, 128] + [0] * 13 + [1]           # fe80::1
    peer6 = [32, 1, 13, 184] + [0] * 11 + [2]      # 2001:db8::2
    v6 = ".".join(map(str, [0, 2, *local6, 2, *peer6]))
    rows = [
        (de.BGP_PEER_INDEX + "." + v4, "5", None),
        (de.BGP_PEER_INDEX + "." + v6, "6", None),
        (de.BGP_PEER_REMOTE_ADDR + "." + v4, "", "0a000002"),
        (de.BGP_PEER_REMOTE_ADDR + "." + v6, "", "".join(
            f"{b:02x}" for b in peer6
        )),
        # ipNetToPhysical: <ifIndex>.<type>.<len>.<address octets>
        (de.IP_NET_TO_PHYSICAL + ".7.1.4.10.0.0.2", "1", None),
        (de.IP_NET_TO_PHYSICAL + ".9.2.16." + ".".join(map(str, peer6)),
         "1", None),
        (de.IFX_NAME + ".7", "ge-0/0/0", None),
        (de.IFX_NAME + ".9", "ge-0/0/1", None),
        (de.IFX_HIGH_SPEED + ".7", "1000", None),
        (de.IFX_ALIAS + ".7", "uplink", None),
        # prefix counters: <peer number>.<afi>.<safi>
        (de.BGP_PREFIX_IN + ".5.1.1", "100", None),
        (de.BGP_PREFIX_IN + ".6.2.1", "3", None),
        (de.BGP_PREFIX_IN + ".8.1.1", "1", None),  # unknown peer: dropped
    ]
    walk = spark.createDataFrame(
        [(DEV, oid.lstrip("."), v, h) for oid, v, h in rows],
        "device_id string, oid string, value string, value_hex string",
    )
    got = _run(de.bgp_session_enrichment, spark, walk)
    oids = got["oids"]
    assert oids["local_address"]["values"] == {v4: "10.0.0.1", v6: "fe80::1"}
    assert oids["peer_address"]["values"] == {v4: "10.0.0.2", v6: "2001:db8::2"}
    assert oids["interface_name"]["values"] == {v4: "ge-0/0/0", v6: "ge-0/0/1"}
    assert oids["interface_speed"]["values"] == {v4: "1000"}
    assert oids["interface_alias"]["values"] == {v4: "uplink"}
    xform = {"5.1.1": v4, "6.2.1": v6}
    for key, oid in [
        ("prefix_in_prefixes", de.BGP_PREFIX_IN),
        ("prefix_in_prefixes_accepted", de.BGP_PREFIX_ACCEPTED),
        ("prefix_in_prefixes_rejected", de.BGP_PREFIX_REJECTED),
        ("prefix_in_prefixes_active", de.BGP_PREFIX_ACTIVE),
    ]:
        assert oids[key] == {
            "method": "bulk_walk", "oid": oid, "index_transform": xform,
        }
    assert oids["peer_state"] == {"method": "bulk_walk", "oid": de.BGP_PEER_STATE}
    assert len(oids) == 18
    [group] = got["metrics_groups"]
    assert group["group_name"] == "bgp_session"
    assert group["metrics"]["peer_in_updates"]["metric_type"] == "counter"
