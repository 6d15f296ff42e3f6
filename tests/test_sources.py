"""S1 JSON resource scan, S5/S10/W3 store ops, A4/A5 status aggregates."""

import json

from pyspark.sql import functions as F

from panoptes_spark.operators.status import ping_stats, status_rollup
from panoptes_spark.sources.json_resources import read_resources_json
from panoptes_spark.sources.stores import expire, scan_namespace, upsert_with_ttl


def test_json_resource_scan_tolerates_corrupt(spark, tmp_path):
    good = {
        "resource_site": "dc1", "resource_class": "network",
        "resource_subclass": "switch", "resource_type": "cisco",
        "resource_id": "sw1", "resource_endpoint": "sw1.net",
        "resource_creation_timestamp": 1.0, "resource_plugin": "disc",
        "resource_metadata": {"make": "Cisco"},
    }
    dup = dict(good, resource_creation_timestamp=2.0)
    missing = {"resource_site": "dc1"}  # no identity fields
    p = tmp_path / "resources.json"
    with open(p, "w") as f:
        for rec in (good, dup, missing):
            f.write(json.dumps(rec) + "\n")
        f.write("{this is not json\n")

    valid, corrupt = read_resources_json(spark, str(p))
    rows = valid.collect()
    assert len(rows) == 1  # dedup kept one, missing dropped
    assert rows[0].resource_creation_timestamp == 2.0  # newest wins
    assert corrupt.count() == 1


def test_json_resource_scan_bracketed_ipv6_endpoint(spark, tmp_path):
    """A genuine string identity value that merely STARTS with '[' (a
    bracketed IPv6 endpoint) must survive — only values that parse as
    JSON arrays/objects model the reference's string-type assertion
    failure (resources.py:105-118)."""
    base = {
        "resource_site": "dc1", "resource_class": "network",
        "resource_subclass": "switch", "resource_type": "cisco",
        "resource_creation_timestamp": 1.0, "resource_plugin": "disc",
        "resource_metadata": {},
    }
    ipv6 = dict(base, resource_id="r6",
                resource_endpoint="[2001:db8::1]")
    arr = dict(base, resource_id="bad",
               resource_endpoint=["not", "a", "string"])
    p = tmp_path / "resources.json"
    with open(p, "w") as f:
        f.write(json.dumps(ipv6) + "\n")
        f.write(json.dumps(arr) + "\n")

    valid, _ = read_resources_json(spark, str(p))
    rows = valid.collect()
    assert [r.resource_endpoint for r in rows] == ["[2001:db8::1]"]


def test_store_ops(spark):
    store = spark.createDataFrame(
        [("enrich:r1:interface", "v1", 100.0), ("enrich:r2:interface", "v2", 10.0),
         ("resource:r3", "v3", None)],
        "key string, value string, expires_at double",
    )
    updates = spark.createDataFrame(
        [("enrich:r2:interface", "v2-new", 300), ("enrich:r9:bgp", "v9", 300)],
        "key string, value string, ttl long",
    )
    merged = upsert_with_ttl(store, updates, ["key"], now=50.0)
    rows = {r.key: (r.value, r.expires_at) for r in merged.collect()}
    assert rows["enrich:r2:interface"] == ("v2-new", 350.0)  # replaced
    assert rows["enrich:r9:bgp"] == ("v9", 350.0)  # added
    assert rows["enrich:r1:interface"] == ("v1", 100.0)  # kept

    live = expire(merged, now=120.0)
    assert {r.key for r in live.collect()} == {
        "enrich:r2:interface", "enrich:r9:bgp", "resource:r3"}  # r1 expired

    ns = scan_namespace(merged, "enrich:")
    assert ns.count() == 3


def test_status_rollup_states(spark):
    df = spark.createDataFrame(
        [("d1", 0), ("d1", 0),                 # all ok
         ("d2", 0), ("d2", 3),                 # partial
         ("d3", 2), ("d3", 2), ("d3", 5),      # most-common failure 2
         ("d4", 5), ("d4", 2)],                # tie -> smaller code 2
        "device_id string, status int",
    )
    out = {r.device_id: r.device_status for r in status_rollup(df).collect()}
    assert out == {"d1": "SUCCESS", "d2": "PARTIAL_METRIC_FAILURE",
                   "d3": "FAILURE_2", "d4": "FAILURE_2"}


def test_ping_stats(spark):
    df = spark.createDataFrame(
        [("d1", 10.0), ("d1", 20.0), ("d1", None), ("d2", None), ("d2", None)],
        "device_id string, rtt_ms double",
    )
    out = {r.device_id: r for r in ping_stats(df).collect()}
    assert out["d1"].packet_loss_pct == 33.33
    assert out["d1"].round_trip_avg == 15.0
    assert out["d2"].packet_loss_pct == 100.0  # total-loss path
    assert out["d2"].round_trip_avg is None


def test_enrichment_validation(spark):
    import json as _json

    from panoptes_spark.operators.enrichment_validate import (
        validate_enrichment_json,
    )

    good = {"interface_name": "xe-0/0/0", "media_type": "ethernetCsmacd",
            "configured_speed": 10000, "port_speed": 10000}
    missing = {"media_type": "ethernetCsmacd"}  # no interface_name
    negative = dict(good, configured_speed=-5)
    rows = [
        ("r1", "interface", "1", _json.dumps(good)),
        ("r1", "interface", "2", _json.dumps(missing)),
        ("r1", "interface", "3", _json.dumps(negative)),
        ("r1", "interface", "4", "{broken"),
    ]
    df = spark.createDataFrame(
        rows, "resource_id string, namespace string, key string, value_json string"
    )
    valid, invalid = validate_enrichment_json(df, "interface")
    assert {r.key for r in valid.collect()} == {"1"}
    assert {r.key for r in invalid.collect()} == {"2", "3", "4"}
    assert valid.collect()[0].value.interface_name == "xe-0/0/0"


def test_enrichment_validation_other_namespaces(spark):
    import json as _json

    from panoptes_spark.operators.enrichment_validate import (
        validate_enrichment_json,
    )

    rows = [
        ("r1", "topology", "xe-0", _json.dumps(
            {"interface": "xe-0", "neighbor": {"device": "r2"},
             "map_type": "lldp"})),
        ("r1", "topology", "xe-1", _json.dumps({"interface": "xe-1"})),  # missing
    ]
    df = spark.createDataFrame(
        rows, "resource_id string, namespace string, key string, value_json string"
    )
    valid, invalid = validate_enrichment_json(df, "topology")
    assert {r.key for r in valid.collect()} == {"xe-0"}
    assert {r.key for r in invalid.collect()} == {"xe-1"}

    hb = spark.createDataFrame(
        [("r1", "heartbeat_ns", "hb", _json.dumps({"timestamp": 5.0}))],
        "resource_id string, namespace string, key string, value_json string",
    )
    v, i = validate_enrichment_json(hb, "heartbeat_ns")
    assert v.count() == 1 and i.count() == 0


def test_enrichment_validation_operational_namespace(spark):
    """operational namespace (reference enrichment/schema/operational.py:
    14-31): only device_polling_status is required; the rest optional."""
    import json as _json

    from panoptes_spark.operators.enrichment_validate import (
        validate_enrichment_json,
    )

    full = {"snmpenginetime": 12345, "sysdescr": "Juniper QFX",
            "device_vendor": "Juniper", "device_model": "qfx10002",
            "device_os": "junos", "device_os_version": "17.3",
            "device_polling_status": 0, "last_updated": 1600000000}
    minimal = {"device_polling_status": 4}
    missing_status = {"device_vendor": "Cisco"}
    rows = [
        ("r1", "operational", "full", _json.dumps(full)),
        ("r1", "operational", "min", _json.dumps(minimal)),
        ("r1", "operational", "bad", _json.dumps(missing_status)),
        ("r1", "operational", "broken", "{nope"),
    ]
    df = spark.createDataFrame(
        rows, "resource_id string, namespace string, key string, value_json string"
    )
    valid, invalid = validate_enrichment_json(df, "operational")
    assert {r.key for r in valid.collect()} == {"full", "min"}
    assert {r.key for r in invalid.collect()} == {"bad", "broken"}
    got = {r.key: r.value for r in valid.collect()}
    assert got["full"].device_polling_status == 0
    assert got["full"].device_model == "qfx10002"


def test_enrichment_validation_neighbor_namespace(spark):
    """neighbor namespace (reference enrichment/schema/neighbor.py:13-40):
    EVERY declared field is required."""
    import json as _json

    from panoptes_spark.operators.enrichment_validate import (
        validate_enrichment_json,
    )

    good = {
        "description": "xe-0/0/0", "type": "physical", "layer": 2,
        "member_of_lag": {}, "member_of_svi": {}, "lag_members": {},
        "ipv6_neighbor": {}, "ipv4_neighbor": {},
        "l2_neighbor": {"chassis": "aa:bb"},
        "ipv6_address": [], "ipv4_address": ["10.0.0.1/31"],
        "vlans": {}, "spanning_tree": {}, "mac_address": "AA:BB:CC:DD:EE:FF",
        "svi_physical_members": {}, "sub_interfaces": {},
        "primary_interface": {}, "link_state": "up", "admin_state": "up",
        "category": "switch", "name": "xe-0/0/0",
    }
    missing_mac = {k: v for k, v in good.items() if k != "mac_address"}
    rows = [
        ("r1", "neighbor", "ok", _json.dumps(good)),
        ("r1", "neighbor", "nomac", _json.dumps(missing_mac)),
        ("r1", "neighbor", "broken", "[1,2"),
    ]
    df = spark.createDataFrame(
        rows, "resource_id string, namespace string, key string, value_json string"
    )
    valid, invalid = validate_enrichment_json(df, "neighbor")
    assert {r.key for r in valid.collect()} == {"ok"}
    assert {r.key for r in invalid.collect()} == {"nomac", "broken"}
    v = valid.collect()[0].value
    assert v.layer == 2 and v.ipv4_address == ["10.0.0.1/31"]


def test_read_documents_jsonl_tolerates_corruption(spark, tmp_path):
    """Malformed lines and parseable-but-incomplete records both land in
    the corrupt stream with their raw line; valid docs survive."""
    from panoptes_spark.sources.text_corpus import read_documents_jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        "\n".join(
            [
                '{"doc_id": 1, "text": "hello world", "lang": "en"}',
                '{"doc_id": 2, "text": "hola", "source": "web"}',
                "{not json at all",
                '{"doc_id": 3, "lang": "de"}',  # parses, but text missing
            ]
        )
    )
    valid, corrupt = read_documents_jsonl(spark, str(p))
    assert {r.doc_id for r in valid.collect()} == {1, 2}
    bad = [r.raw_line for r in corrupt.collect()]
    assert len(bad) == 2
    assert any("not json" in b for b in bad)


def test_write_sorted_by_range_partitions(spark, tmp_path):
    """Export is globally ordered across files via a range shuffle —
    plan shows RangePartitioning, never a single-partition global sort;
    files are disjoint, ordered ranges."""
    from panoptes_spark.sources.text_corpus import write_sorted_by

    df = spark.createDataFrame(
        [(i, (i * 37) % 100) for i in range(200)], "id long, score long"
    )
    shuffled = df.repartition(8)
    plan = (
        shuffled.repartitionByRange(4, "score")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "rangepartitioning" in plan.lower()

    out = str(tmp_path / "sorted")
    write_sorted_by(shuffled, out, ["score"], n_files=4)

    import glob

    ranges = []
    for f in sorted(glob.glob(out + "/part-*.parquet")):
        vals = [r.score for r in spark.read.parquet(f).collect()]
        assert vals == sorted(vals)          # ordered within file
        if vals:
            ranges.append((min(vals), max(vals)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2                    # files are disjoint ranges


def test_corrupt_parquet_file_tolerance(spark, tmp_path):
    """A garbage file in a table directory must not kill the scan when
    ignoreCorruptFiles is on — the crawl-shard resilience setting; the
    valid shard's rows all survive."""
    d = tmp_path / "tbl"
    spark.createDataFrame(
        [(i, f"row{i}") for i in range(10)], "id long, s string"
    ).coalesce(1).write.parquet(str(d))
    (d / "part-junk.parquet").write_bytes(b"PAR1 this is not parquet")

    good = (
        spark.read.option("ignoreCorruptFiles", "true").parquet(str(d))
    )
    assert good.count() == 10

    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import CapturedException

    with _pytest.raises((Py4JJavaError, CapturedException)):
        spark.read.option("ignoreCorruptFiles", "false").parquet(
            str(d)
        ).count()


def test_read_table_memoizes_per_session(spark, sf_dir):
    """The catalog-style relation memo returns the SAME plan object for
    repeat reads in one session (no re-listing / footer re-reads) and
    keys by applicationId so another session can never receive a plan
    bound to a stopped one."""
    import os

    from panoptes_spark import memo
    from panoptes_spark.sources import tpch_fixtures as fx

    a = fx.read_table(spark, sf_dir, "nation")
    b = fx.read_table(spark, sf_dir, "nation")
    assert a is b
    assert a.count() == b.count()
    # distinct sf_dir or table -> distinct entries
    c = fx.read_table(spark, sf_dir, "region")
    assert c is not a
    app = spark.sparkContext.applicationId
    real = os.path.realpath(sf_dir)
    assert all(k[0] == app or not k[2].startswith(real)
               for k in list(memo._ENTRIES))
    # events derivation memoizes its whole ts_ms frame too
    e1 = fx.read_events(spark, sf_dir)
    e2 = fx.read_events(spark, sf_dir)
    assert e1 is e2
