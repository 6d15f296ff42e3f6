"""Plugin-definition loader (sources/plugin_config.py) — parses the
reference's own ``.panoptes-plugin`` files verbatim and keeps the
name/signature/key formats byte-faithful (helpers.py:51-68,
panoptes_base_plugin.py:510-518,120-131), then compiles the spec onto
the Spark surfaces (DSL filter + splay schedule)."""

import pathlib

import pytest

from panoptes_spark.sources.plugin_config import (
    compile_plugin,
    load_plugin_config,
    metadata_key,
    normalize_plugin_name,
    parse_preload,
    plugin_signature,
)

_REF = pathlib.Path("/root/reference")
_EXAMPLE = (
    _REF / "examples/plugins/polling/"
    "plugin_polling_device_interface_metrics.panoptes-plugin"
)
_TESTPLUGIN = (
    _REF / "tests/plugins/polling/test/plugin_polling_test.panoptes-plugin"
)


@pytest.mark.skipif(
    not _EXAMPLE.is_file(), reason="reference plugin files not available"
)
def test_parses_reference_example_file():
    spec = load_plugin_config(_EXAMPLE.read_text())
    assert spec.name == "Device Interface Metrics Plugin"
    assert spec.execute_frequency == 60
    assert (
        spec.resource_filter
        == 'resource_class = "system" AND resource_subclass = "host"'
    )
    assert spec.preload == {("self", "interface")}
    assert spec.snmp == {"max_repetitions": "25"}
    assert spec.normalized_name == "Device_Interface_Metrics_Plugin"


@pytest.mark.skipif(
    not _TESTPLUGIN.is_file(), reason="reference plugin files not available"
)
def test_parses_reference_test_plugin_and_extra_keys():
    spec = load_plugin_config(_TESTPLUGIN.read_text())
    assert spec.name == "Test Polling Plugin"
    assert spec.preload == {("self", "test")}
    assert spec.module == "plugin_polling_test"
    # unknown [main] keys are ignored, unknown sections preserved
    assert spec.extra == {}


def test_name_signature_and_key_parity():
    # underscores double BEFORE the unsafe-char sweep (helpers.py:66-68)
    assert normalize_plugin_name("plugin_polling_test") == "plugin__polling__test"
    assert normalize_plugin_name("Test Polling Plugin") == "Test_Polling_Plugin"
    with pytest.raises(ValueError):
        normalize_plugin_name("")
    # md5(normalized + repr(data)) — panoptes_base_plugin.py:518
    assert (
        plugin_signature("Test Polling Plugin", None)
        == "6b4a0749de740d3e92c011dbe3396e85"
    )
    key = metadata_key("Test Polling Plugin", None, "last_executed")
    assert key == (
        "plugin_metadata:Test_Polling_Plugin:"
        "6b4a0749de740d3e92c011dbe3396e85:last_executed"
    )


def test_parse_preload_spec():
    assert parse_preload("self:interface, self:topology ,peer:lldp") == {
        ("self", "interface"),
        ("self", "topology"),
        ("peer", "lldp"),
    }
    with pytest.raises(ValueError):
        parse_preload("no-colon-here")


def test_compile_plugin_filters_and_schedules(spark):
    import panoptes_spark.sources.tpch_fixtures as fx
    from panoptes_spark.operators.schedule import murmur3_x86_32

    spec = load_plugin_config(
        "[Core]\nName = Net Poller\n[main]\n"
        "execute_frequency = 90\n"
        'resource_filter = resource_class = "network"\n'
    )
    res = fx.resources_flat(spark, "/root/testdata/sf0.001")
    out = compile_plugin(spec, res, now=1000.0)
    rows = out.select("resource_id", "resource_class", "splay_s", "run_at").collect()
    assert rows and all(r.resource_class == "network" for r in rows)
    # splay parity: mmh3('<normalized>:<resource_id>') % min(90, 60)
    for r in rows[:10]:
        exp = murmur3_x86_32(f"Net_Poller:{r.resource_id}") % 60
        assert r.splay_s == exp and r.run_at == 1000.0 + exp
